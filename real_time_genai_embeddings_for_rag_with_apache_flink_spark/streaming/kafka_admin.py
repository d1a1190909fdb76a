"""Kafka topic bootstrap — the MSK variant's D1 analogue.

The reference bootstraps its source topic with a custom-resource Lambda
before the Flink job starts (``MSK-S/topicCreation/index.py:37-59``:
KafkaAdminClient over SASL_SSL/OAUTHBEARER with an MSK IAM token
provider, one NewTopic(name, num_partitions, replication_factor)).
``ensure_topic`` is the engine's counterpart, run driver-side before
``run_pipeline`` the same way sinks.ensure_knn_index runs before the
first OpenSearch write.

Import-gated like the delta sink: without ``kafka-python`` (and, for
IAM auth, ``aws-msk-iam-sasl-signer-python``) the gate raises a real
error naming the packages instead of stubbing success. The option surface is unit-tested
(tests/test_streaming_pipeline.py) without a broker by injecting an
admin-client factory.
"""

from __future__ import annotations


def _default_admin_factory(bootstrap_servers: str, region: str | None):
    try:
        from kafka import KafkaAdminClient  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - dep not in container
        raise NotImplementedError(
            "ensure_topic needs the kafka-python package for its admin "
            "client (the reference's topicCreation Lambda dependency); "
            "install kafka-python, or create the topic out of band"
        ) from e
    kwargs: dict = {"bootstrap_servers": bootstrap_servers}
    if region:
        try:
            from aws_msk_iam_sasl_signer import (  # type: ignore[import-not-found]
                MSKAuthTokenProvider,
            )
        except ImportError as e:  # pragma: no cover - dep not in container
            raise NotImplementedError(
                "IAM-authenticated topic creation needs "
                "aws-msk-iam-sasl-signer-python (the reference's "
                "MSKTokenProvider dependency)"
            ) from e

        class _TokenProvider:
            def token(self) -> str:
                token, _ = MSKAuthTokenProvider.generate_auth_token(region)
                return token

        # the reference's exact client security config
        # (MSK-S/topicCreation/index.py:49-55)
        kwargs.update(
            security_protocol="SASL_SSL",
            sasl_mechanism="OAUTHBEARER",
            sasl_oauth_token_provider=_TokenProvider(),
        )
    return KafkaAdminClient(**kwargs)


def ensure_topic(
    bootstrap_servers: str,
    topic: str,
    num_partitions: int = 1,
    replication_factor: int = 1,
    region: str | None = None,
    admin_factory=None,
) -> bool:
    """Create ``topic`` if it does not exist; True if created, False if
    it was already there (idempotent, like ensure_knn_index — a rerun
    or a second job sharing the topic must not fail the bootstrap;
    list-then-create is racy, so a concurrent creator's
    TopicAlreadyExists is also treated as the already-there success).
    ``region`` switches on the reference's MSK IAM auth; ``admin_factory``
    injects a fake client in tests."""
    factory = admin_factory or _default_admin_factory
    admin = factory(bootstrap_servers, region)
    try:
        existing = set(admin.list_topics())
        if topic in existing:
            return False
        try:
            from kafka.admin import NewTopic  # type: ignore[import-not-found]
        except ImportError:  # test fakes carry their own topic type
            NewTopic = None  # type: ignore[assignment]
        new = (
            NewTopic(
                name=topic,
                num_partitions=num_partitions,
                replication_factor=replication_factor,
            )
            if NewTopic is not None
            else {
                "name": topic,
                "num_partitions": num_partitions,
                "replication_factor": replication_factor,
            }
        )
        try:
            admin.create_topics(new_topics=[new], validate_only=False)
        except Exception as e:
            # list-then-create is racy: a concurrent bootstrap (two jobs
            # sharing the topic) can win between our list and create.
            # Already-exists IS the idempotent success case — match by
            # class name so the check works without importing
            # kafka.errors (and against injected fakes).
            if "TopicAlreadyExists" in type(e).__name__:
                return False
            raise
        return True
    finally:
        admin.close()
