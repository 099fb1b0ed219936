"""Shared corrupt-capturing JSONL parsing.

One implementation of the ``text`` + ``from_json(PERMISSIVE,
columnNameOfCorruptRecord)`` + null-struct-normalization pattern used by
every JSONL source (entity profiles, sentences). Reading via ``text``
rather than a raw ``.json()`` scan matters twice over: Spark forbids
queries that prune a raw JSON scan down to only the internal
corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN — exactly the
shape of a validation query), and ``from_json`` leaves the corrupt slot
null for unparseable lines on some parser paths, so a null struct must
be normalized to "corrupt" in one shared place.

The supplied schema must carry a ``_corrupt`` string field; callers get
every other schema field flattened plus ``_corrupt`` holding the raw
line for bad records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def parse_json_lines(
    raw: DataFrame, schema: StructType, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Parse a frame of raw JSON lines; ``keep_cols`` (e.g. a line-number
    column) ride along unchanged."""
    parsed = raw.select(
        F.from_json(
            "value",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("j"),
        "value",
        *keep_cols,
    )
    cols = [f.name for f in schema.fields if f.name != "_corrupt"]
    return parsed.select(
        *[F.col(f"j.{c}").alias(c) for c in cols],
        F.when(F.col("j").isNull() | F.col("j._corrupt").isNotNull(), F.col("value")).alias(
            "_corrupt"
        ),
        *keep_cols,
    )


def read_jsonl_with_corrupt(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return parse_json_lines(spark.read.text(path), schema)
