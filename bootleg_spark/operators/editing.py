"""Edit-mode mention mutations over the alias-candidate dim table.

The reference's EntityProfile edit mode mutates in-memory dicts
(entity_symbols.py:592-688). The Spark-native form: every mutation is a
PURE TRANSFORMATION from dim frame to dim frame — an edit session folds
mutations into a lazy plan and materializes once (checkpoint/write),
which is also how you'd batch thousands of edits at 5.8M-entity scale
without 5.8M point-updates.

Dim-frame shape (as produced by ``bootleg_spark.sources.profile``):
- alias_cands:  (alias, qid, score, rank)      rank 1-based by (score desc, qid desc)

Semantics matched to the reference:
- add_mention: existing (alias, qid) pair -> no-op; full candidate list
  -> the LAST (lowest-ranked) candidate is evicted so the new pair
  always lands (entity_symbols.py:592-646);
- remove_mention: aliases left with zero candidates disappear
  (entity_symbols.py:649-688).

Plan-depth note: each mutation stacks one narrow plan layer plus one
per-alias window. Long edit scripts should ``.localCheckpoint()`` every
few hundred mutations or replay through a profile rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bootleg_spark.functions.lnrm import lnrm


def _rerank(alias_cands: DataFrame) -> DataFrame:
    w = Window.partitionBy("alias").orderBy(F.desc("score"), F.desc("qid"))
    return alias_cands.select("alias", "qid", "score").withColumn(
        "rank", F.row_number().over(w)
    )


def add_mention(
    alias_cands: DataFrame,
    qid: str,
    mention: str,
    score: float,
    max_candidates: int = 30,
) -> DataFrame:
    """entity_symbols.add_mention (entity_symbols.py:592-646)."""
    spark = alias_cands.sparkSession
    alias = lnrm(mention)
    w = Window.partitionBy("alias")
    has = F.max(F.when(F.col("qid") == qid, 1).otherwise(0)).over(w)
    aff = alias_cands.where(F.col("alias") == alias).withColumn("_has", has)
    # evict the last-ranked candidate only when the pair is new AND the
    # list is full (the new pair must always land)
    kept = aff.where((F.col("_has") == 1) | (F.col("rank") < max_candidates)).drop("_has")
    new_row = spark.createDataFrame(
        [(alias, qid, float(score), 0)], "alias string, qid string, score double, rank int"
    ).join(
        # ≤1-row right side: broadcast, else Catalyst picks a sort-merge
        # anti-join and shuffles the (statless) literal frame
        F.broadcast(alias_cands.where((F.col("alias") == alias) & (F.col("qid") == qid))),
        ["alias", "qid"],
        "left_anti",
    )
    merged = kept.unionByName(new_row)
    return alias_cands.where(F.col("alias") != alias).unionByName(_rerank(merged))


def remove_mention(alias_cands: DataFrame, qid: str, mention: str) -> DataFrame:
    """entity_symbols.remove_mention (entity_symbols.py:649-688);
    re-ranks the remaining candidates, zero-candidate aliases vanish."""
    alias = lnrm(mention)
    aff = alias_cands.where(
        (F.col("alias") == alias) & (F.col("qid") != qid)
    )
    return alias_cands.where(F.col("alias") != alias).unionByName(_rerank(aff))

