"""Distributed dense-ID assignment (no single-partition window).

The naive ``row_number() OVER (ORDER BY key)`` moves every row to ONE
task (Spark warns "No Partition Defined for Window"); at the reference's
5.8 M-entity scale (bootleg/symbols/entity_symbols.py:43-47, qid2eid
enumeration) that is a single-task wall. This module assigns the same
contiguous ids with a two-phase plan that stays fully parallel:

1. range-repartition + sort within partitions on the key (one shuffle,
   the same shuffle a global sort would need anyway);
2. count rows per partition (tiny per-partition aggregate — one row per
   partition collected to the driver, O(#partitions) not O(rows));
3. broadcast the cumulative offsets back and add them to per-partition
   local row numbers (window PARTITIONED by spark_partition_id, so it
   never concentrates data).

Ids are deterministic iff the sort key is unique (range boundaries are
sampled, but with a unique key the global order — and therefore every
id — is independent of the boundary choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(df: DataFrame, order_col: str, id_col: str = "dense_id", start: int = 0) -> DataFrame:
    """Add ``id_col`` = ``start`` + 0-based rank of ``order_col``.

    ``order_col`` must be unique for the ids to be deterministic.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # lazy localCheckpoint: the ranged frame feeds two actions (counts,
    # then the final plan) — the counts materialize it once and the
    # final plan reads those blocks, so both see identical partition
    # contents; no cached frame outlives the call
    ranged = (
        df.repartitionByRange(n_parts, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    # phase 2: per-partition counts -> driver (O(#partitions) rows)
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, int(start)
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = df.sparkSession.createDataFrame(
        [(int(pid), int(off)) for pid, off in offsets.items()], "_pid int, _off long"
    )
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy(order_col)
    )
    return (
        ranged.withColumn("_local", local - 1)
        .join(F.broadcast(off_df), "_pid")
        .withColumn(id_col, (F.col("_off") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_off")
        # every plan built on the result reads one materialization: the
        # dims are shared by many plans (KgPipeline set-up runs 20 Spark
        # jobs without it, 7 with it)
        .localCheckpoint(eager=False)
    )


def fixpoint(state: DataFrame, step, max_iter: int, what: str) -> DataFrame:
    """Apply ``step`` (state → next state + a boolean ``_changed``
    column) until a round changes no row; return the settled state.
    Raises ``ValueError`` if a row still changed in round ``max_iter``.

    One Spark job per round: the round's frame is lazily
    ``localCheckpoint``-ed, and the count of its changed rows is the one
    action that materializes it and answers convergence. The checkpoint
    is the lineage rule of every iterative plan here: caching alone is
    NOT enough, because the logical plan still embeds every earlier
    round and driver-side analysis time grows ~4× per round (measured).
    (``localCheckpoint`` trades executor-loss resilience for speed; with
    preemptible executors set a checkpoint dir and use ``.checkpoint()``.)
    ``pagerank``, ``source_trust``, ``bootstrap_patterns`` (fixed rounds)
    and ``khop_neighborhood`` (its hop bound is part of the answer) take
    the same lazy checkpoint per round without this helper."""
    for _ in range(max_iter):
        cp = step(state).localCheckpoint(eager=False)
        state = cp.drop("_changed")
        if cp.where("_changed").count() == 0:
            return state
    raise ValueError(f"{what} did not converge after {max_iter} rounds")
