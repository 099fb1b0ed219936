"""Bucketed parquet store layout of the batch materializer
(plans/pipeline.py:materialize_triples): the bucket key, the
partition-directory scheme and the layout id its checkpoint manifest
records, so resume can refuse a store written under a different layout
instead of silently skipping the wrong rows (round-2 advice on the
materializer manifest). The store is a batch run's one linking pass;
``snapshot_triples`` publishes the graph table from it
(:func:`read_buckets` → distinct). Incremental writers do not use this
layout; they land triples in the snapshot-manifest graph table
(sources/snaptable.py).

This is the Iceberg/Delta-shaped seam: on a cluster with a real table
format, :func:`bucket_expr` becomes the table's ``bucket(n, cols...)``
partition transform, :func:`write_buckets` a table overwrite of the
named partitions, and :func:`read_buckets`'s manual ``isin`` pruning
metadata-only partition pruning.

Keying on ``xxhash64`` (not ``hash``): Spark documents ``hash`` as
Murmur3 whose seed/behavior is tied to internal use (it also backs
shuffle partitioning — bucketing a store by it correlates store buckets
with shuffle partitions); ``xxhash64`` is the stable 64-bit column hash
intended for content keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"
LAYOUT_VERSION = 3


def bucket_expr(n_buckets: int, *cols) -> Column:
    """Deterministic bucket id: ``pmod(xxhash64(cols...), n_buckets)``."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def layout_id(key_cols: list[str], n_buckets: int) -> str:
    """Version string recorded in every manifest line of a bucketed
    store; compare with ``==`` before resuming."""
    return f"xxhash64({','.join(key_cols)})/{BUCKET_COL}={n_buckets}/v{LAYOUT_VERSION}"


def write_buckets(df: DataFrame, path: str, mode: str = "append") -> None:
    """Write a frame carrying :data:`BUCKET_COL` partitioned by it.
    ``mode="overwrite"`` pairs with dynamic partitionOverwriteMode for
    selective bucket rewrite (the materializer's resume)."""
    df.write.mode(mode).partitionBy(BUCKET_COL).parquet(path)


def read_buckets(spark: SparkSession, path: str, buckets: list[int]) -> DataFrame:
    """Partition-pruned read of only the named buckets — per-call read
    volume is O(store × |buckets| / n_buckets), not O(store). The
    store's schema is fixed, so the read declares it rather than
    starting a job to infer it."""
    schema = f"subj string, pred string, obj string, {BUCKET_COL} int"
    return spark.read.schema(schema).parquet(path).where(F.col(BUCKET_COL).isin(buckets))
