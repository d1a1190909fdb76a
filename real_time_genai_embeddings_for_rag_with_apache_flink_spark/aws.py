"""AWS access for the process: one botocore session, its default
credential chain, the one SigV4 signer, and the one wire call of the
package's own HTTP transports (``sources/kinesis_lite.KinesisClient``
and ``streaming/opensearch_http.HttpOpenSearchClient``). The Bedrock
client (``operators/embed.bedrock_client``) is built from the same
session.

The chain is botocore's: the environment (``AWS_ACCESS_KEY_ID`` /
``AWS_SECRET_ACCESS_KEY`` / ``AWS_SESSION_TOKEN``), the shared config
and credential files (``AWS_PROFILE``), then a container or instance
role. Role credentials refresh themselves; ``sign`` freezes them per
request, so a long-running job keeps signing across a rotation without
a restart. No credential lives in a reader option or a task closure:
each process resolves its own chain.

``request`` sends one Kinesis or OpenSearch call under one timeout
(``TIMEOUT_S``), signing each attempt. A response its caller calls a
throttle is retried after ``backoff(attempt)``, ``BACKOFF_S·2ⁿ`` capped
at 5 s, at most ``THROTTLE_RETRIES`` times; PutRecords' and ``_bulk``'s
failed-subset resends pause on the same schedule. Bedrock's calls
(``operators/embed.BedrockTitanEmbedder``) have the same timeout, to
connect and to read, and retry on the same schedule and bound. Nothing
configures it: a throttled endpoint must be slowed down, the same way
for every call.

botocore is imported on first use, so a process that never signs (an
executor writing to an unsigned local endpoint) never loads it.
"""

from __future__ import annotations

import functools
import time
import urllib.error
import urllib.request

TIMEOUT_S = 10.0  # socket timeout of every attempt
BACKOFF_S = 0.05  # the first pause after a throttle; doubled per retry
THROTTLE_RETRIES = 8  # retries of a throttled call before it is returned


@functools.lru_cache(maxsize=None)
def session():
    """The process's botocore session."""
    import botocore.session

    return botocore.session.get_session()


@functools.lru_cache(maxsize=None)
def credentials(instance_role: bool = True):
    """The chain's credentials, or None when it finds none; resolved
    once per process. The full chain's are the session's own, which its
    clients (Bedrock's) sign with too. ``instance_role=False`` leaves out
    the instance metadata service, the one provider that asks the
    network rather than the host: without credentials it would cost a
    connect timeout per process, and role credentials are for AWS
    endpoints only."""
    if instance_role:
        return session().get_credentials()
    from botocore.credentials import CredentialResolver

    providers = session().get_component("credential_provider").providers
    return CredentialResolver(
        [p for p in providers if p.METHOD != "iam-role"]
    ).load_credentials()


def sign(
    creds, method: str, url: str, headers: dict, body: bytes, region: str, service: str
) -> dict[str, str]:
    """``headers`` plus the SigV4 headers for one request, signed with
    ``creds`` frozen now: a retry re-signs with a fresh ``x-amz-date``
    and, after a rotation, with the new key."""
    from botocore.auth import SigV4Auth
    from botocore.awsrequest import AWSRequest

    request = AWSRequest(method=method, url=url, data=body, headers=headers)
    SigV4Auth(creds.get_frozen_credentials(), service, region).add_auth(request)
    return dict(request.headers.items())


def backoff(attempt: int) -> float:
    """The pause before throttle retry ``attempt`` (0 first)."""
    return min(BACKOFF_S * 2**attempt, 5.0)


def request(
    method: str,
    url: str,
    body: bytes | None,
    headers: dict,
    creds,
    region: str | None,
    service: str,
    throttled,
) -> tuple[int, bytes]:
    """``(status, body)`` of one call, error statuses included. Each
    attempt is signed with ``creds`` (unsigned when None). An error
    response that ``throttled(status, body)`` calls a throttle is sent
    again after ``backoff``, at most ``THROTTLE_RETRIES`` times; the
    last one goes back to the caller like any other error."""
    for attempt in range(THROTTLE_RETRIES + 1):
        if attempt:
            time.sleep(backoff(attempt - 1))
        signed = headers
        if creds is not None:
            signed = sign(creds, method, url, headers, body or b"", region, service)
        req = urllib.request.Request(url, data=body, headers=signed, method=method)
        try:
            with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:
                return resp.status, resp.read()
        except urllib.error.HTTPError as e:
            status, raw = e.code, e.read()
        if not throttled(status, raw):
            break
    return status, raw


def access_key_id(authorization: str | None) -> str | None:
    """The access key id a SigV4 ``Authorization`` header names, or None
    for an unsigned request (the fake endpoints record it)."""
    if not authorization or "Credential=" not in authorization:
        return None
    return authorization.split("Credential=", 1)[1].split("/", 1)[0]
