"""Candidate generation: the alias → ≤K (QID, score) broadcast lookup.

The reference's central "join" (entity_symbols.get_qid_cands,
bootleg/symbols/entity_symbols.py:434-491; eval_utils.py:59-114): per
extracted alias, fetch the top-K candidate list sorted (score desc, id
desc), pad to K with "-1" (eid 1). The "NC" not-in-candidates slot
(eid 0, train_in_candidates=False) is prepended by the
``candidates_with_nc`` query.

Spark-first shape: the candidate lists are pre-grouped once into a tiny
dimension DataFrame (alias → ordered array<struct>), then attached to
the mention stream with an explicit ``broadcast()`` hash join — no
shuffle of the big side, which is what survives 10^12 pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bootleg_spark import synthspec as S
from bootleg_spark.functions.embedding import PAD_EID


def grouped_candidates(alias_cands: DataFrame) -> DataFrame:
    """alias → ordered, padded candidate arrays.

    Input: (alias, qid, qnum/eid, score, rank) with rank ≤ K.
    Output: (alias, cand_qids array<string>[K], cand_eids array<long>[K],
    cand_scores array<double>[K]) — ordered by rank, padded with
    "-1"/PAD_EID/0.0 (eval_utils.py:59-114 padding semantics).
    """
    k = S.MAX_CANDIDATES
    eid_col = "eid" if "eid" in alias_cands.columns else "qnum"
    g = alias_cands.groupBy("alias").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("rank"), F.col("qid"), F.col(eid_col).alias("eid"), F.col("score")))
        ).alias("c")
    )
    pad = F.expr(f"array_repeat(named_struct('rank', 0, 'qid', '-1', 'eid', CAST({PAD_EID} AS BIGINT), 'score', CAST(0.0 AS DOUBLE)), {k})")
    padded = F.slice(F.concat(F.col("c"), pad), 1, k)
    return g.select(
        "alias",
        F.transform(padded, lambda x: x["qid"]).alias("cand_qids"),
        F.transform(padded, lambda x: x["eid"].cast("long")).alias("cand_eids"),
        F.transform(padded, lambda x: x["score"]).alias("cand_scores"),
    )


def attach_candidates_salted(
    mentions: DataFrame,
    grouped: DataFrame,
    salt_n: int = 16,
) -> DataFrame:
    """Shuffle-join variant of :func:`attach_candidates` for alias
    dictionaries beyond broadcast budget, salted against head-alias
    skew (SURVEY §4; north_rule "skew from head entities handled with
    salted repartitioning").

    A plain shuffle join partitions both sides by ``alias``, so a head
    alias covering half the corpus lands its half on ONE reducer. Here
    the fact side derives a deterministic salt from its row keys and
    the (small-per-alias) dim side replicates each alias ``salt_n``
    times; the equi-join on (alias, salt) spreads the hot alias across
    ``salt_n`` reducers at the cost of a ``salt_n``× dim blow-up —
    cheap, the dim is one array row per alias. Output rows identical
    to the broadcast form (pytest-pinned); BENCH.md "Head-alias skew
    evidence (round 4)" has the skew measurements."""
    salt = F.pmod(F.hash("doc_id", "mention_pos"), F.lit(salt_n))
    fact = mentions.withColumn("_salt", salt)
    dim = grouped.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )
    return fact.hint("shuffle_hash").join(dim, ["alias", "_salt"]).drop("_salt")


def attach_candidates(mentions: DataFrame, grouped: DataFrame) -> DataFrame:
    """Broadcast-join the :func:`grouped_candidates` arrays onto the
    mention stream; mentions whose alias has no candidates drop out
    (inner join). A long-lived caller builds ``grouped`` once and
    caches it (``KgPipeline.grouped_cands``). The NC-slot shape
    (train_in_candidates=False) is built by the ``candidates_with_nc``
    query.
    """
    return mentions.join(F.broadcast(grouped), "alias")
