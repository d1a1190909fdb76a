"""Stages M1/M2/F1 of the reference dataflow as Catalyst expressions.

Reference:
- M1 deserialize: Jackson per record, new ObjectMapper per call
  (``KDS-P/.../operators/map/CustomMessageMapFunction.java:21-26``) —
  here a single ``from_json`` (JVM, codegen'd, no per-record allocation).
- M2 normalize: project text/created_at + random UUID ``_id``
  (``.../map/CustomMessageToJSONObject.java:25,30-34``) — here a
  ``select``; id strategy is injectable because random UUIDs are
  untestable (FIXTURES.md intro).
- F1 filter: drop empty text; the reference throws JSONException on a
  *missing* key (``DataStreamJob.java:146``) — the engine makes
  missing-key -> null explicit and drops nulls too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import CREATED_AT_FORMAT

# Parse stage reads both fields as strings, then applies the producer's
# exact timestamp format (kds-producer-lambda/lambda_function.py:13).
_WIRE_SCHEMA = StructType(
    [
        StructField("text", StringType(), True),
        StructField("created_at", StringType(), True),
    ]
)


def parse_raw(df: DataFrame, value_col: str = "value") -> DataFrame:
    """RAW -> MSG: JSON string to typed columns; malformed JSON -> nulls
    plus a ``_corrupt`` flag (instead of the reference's job crash)."""
    parsed = F.from_json(F.col(value_col), _WIRE_SCHEMA)
    # PERMISSIVE from_json yields an all-null struct (not a null struct) on
    # malformed input, so corruption is detected with try_parse_json.
    corrupt = F.col(value_col).isNotNull() & F.expr(
        f"try_parse_json({value_col}) IS NULL"
    )
    return df.select(
        parsed["text"].alias("text"),
        F.to_timestamp(parsed["created_at"], CREATED_AT_FORMAT).alias("created_at"),
        corrupt.alias("_corrupt"),
    )


def normalize(df: DataFrame, id_strategy: str = "uuid") -> DataFrame:
    """MSG -> DOC: project + attach ``_id``.

    ``uuid`` matches the reference (random, CustomMessageToJSONObject.java:25);
    ``deterministic`` derives the id from content for reproducible tests.
    """
    if id_strategy == "uuid":
        _id = F.expr("uuid()")
    elif id_strategy == "deterministic":
        _id = F.md5(F.concat_ws("|", F.col("text"), F.col("created_at").cast("string")))
    else:
        raise ValueError(f"unknown id_strategy {id_strategy!r}")
    return df.select(F.col("text"), F.col("created_at"), _id.alias("_id"))


def filter_nonempty_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """F1: keep rows with non-null, non-empty text (DataStreamJob.java:146)."""
    c = F.col(text_col)
    return df.filter(c.isNotNull() & (c != ""))


def to_sink_docs(df: DataFrame) -> DataFrame:
    """EMB -> sink projection {passage_embedding, date, text}
    (createIndexRequest2, DataStreamJob.java:183-193)."""
    return df.select(
        F.col("embedding").alias("passage_embedding"),
        F.col("created_at").alias("date"),
        F.col("text"),
    )
