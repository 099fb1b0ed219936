"""Incremental KG construction over a page stream.

The reference is strictly batch (SURVEY.md §2.11: no watermarks/
windows/state anywhere in Bootleg). This module is the engine extension
for continuously arriving crawl data: a Structured Streaming file
source over page-shaped parquet feeds every micro-batch through
``KgPipeline.triples`` — the same fused linking kernel as the batch and
table-as-log paths — and ``foreachBatch`` lands the triples in the
snapshot-manifest graph table (sources/snaptable.py) through
:func:`bootleg_spark.plans.pipeline.insert_new_triples`, the one
incremental graph writer: an anti-join against the graph (edge-set
semantics across batches) and a commit stamped with the micro-batch id
(a batch replayed after a crash between commit and checkpoint is a
no-op). On a cluster with Iceberg/Delta that step is a single
``MERGE INTO`` on (subj, pred, obj).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bootleg_spark.plans.pipeline import KgPipeline, insert_new_triples


def start_snapshot_triple_stream(
    pipe: KgPipeline,
    src_dir: str,
    table: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Start the incremental triple materializer: new page files under
    ``src_dir`` (schema of ``pipe.pages()``) are linked and inserted
    into the graph ``table``, one committed snapshot per micro-batch,
    the whole history time-travelable. maxFilesPerTrigger bounds
    per-batch work (backpressure)."""

    def _commit(batch: DataFrame, batch_id: int) -> None:
        insert_new_triples(pipe.triples(batch), table, batch_id)

    writer = (
        pipe.spark.readStream.schema(pipe.pages().schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
        .writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
