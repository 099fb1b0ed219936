"""Distant-supervision surface-pattern relation extraction — mine the
word sequences that connect KG-related entity pairs in the linked
corpus, then apply them to propose NEW triples the KG lacks.

This is the Brin/Agichtein (DIPRE / Snowball) loop the reference stops
short of: Bootleg emits links; a KG-construction pipeline turns links
into *new* facts by (1) collecting the text between co-mentioned
entity pairs that already hold a relation (distant supervision —
Mintz et al., ACL'09), (2) keeping patterns precise enough, and
(3) proposing (subj, rel, obj) for pairs matched by a kept pattern but
absent from the KG.

Scale shape:
- :func:`adjacent_linked_pairs` — one per-doc window (``lead`` over
  mention_pos; a document's mention list is bounded by doc length, so
  the window partition never explodes) + one equi-join to the text at
  doc grain for the between-words slice (codegen ``slice``/``concat_ws``
  — no Python).
- :func:`mine_patterns` — two map-side-combined aggregations at
  (pattern[, rel]) grain joined at pattern grain; the KG membership
  check is an equi-join on the pair key. Output cardinality =
  |distinct patterns| ≪ |pairs|.
- :func:`apply_patterns` — the mined dictionary (post min-support
  filter) is a dim → broadcast join; known facts are removed with one
  anti-join on the triple key; evidence aggregation at triple grain.

Every step is mirrored in the DuckDB oracle (rel_pattern_mine /
rel_pattern_apply), so the window pairing, the slice arithmetic, the
precision ratio, and the anti-join all get hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def adjacent_linked_pairs(linked: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_id, pos1, pos2, qid1, qid2, pattern): CONSECUTIVE linked
    mentions of distinct entities in the same document whose word-gap
    (pos2 − pos1) lies in [2, 4]; ``pattern`` is the words
    strictly between them, space-joined. Consecutive-only pairing (not
    all pairs in a window) keeps the candidate count linear in corpus
    size and matches how surface patterns are actually read."""
    w = Window.partitionBy("doc_id").orderBy("pos1")
    pairs = (
        linked.select(
            "doc_id",
            F.col("mention_pos").alias("pos1"),
            F.col("qid").alias("qid1"),
        )
        .withColumn("pos2", F.lead("pos1").over(w))
        .withColumn("qid2", F.lead("qid1").over(w))
        .where(
            F.col("pos2").isNotNull()
            & (F.col("qid1") != F.col("qid2"))
            & ((F.col("pos2") - F.col("pos1")).between(2, 4))
        )
    )
    between = F.concat_ws(
        " ",
        F.slice(
            F.split(F.col("text"), " "),
            F.col("pos1") + 2,
            F.col("pos2") - F.col("pos1") - 1,
        ),
    )
    return pairs.join(
        docs.select("doc_id", "text"), "doc_id"
    ).select(
        "doc_id",
        F.col("pos1").cast("long").alias("pos1"),
        F.col("pos2").cast("long").alias("pos2"),
        "qid1",
        "qid2",
        between.alias("pattern"),
    )


def mine_patterns(pairs: DataFrame, kg: DataFrame) -> DataFrame:
    """(pattern, rel, support, n_pattern, precision): distant
    supervision — for every pair instance whose (qid1, rel, qid2) is a
    known KG edge, credit (pattern, rel). ``support`` counts crediting
    instances, ``n_pattern`` counts ALL instances of the pattern
    (related or not — the precision denominator), precision =
    support / n_pattern rounded to 6. A pair holding edges under
    several relations credits each (the standard multi-label DS
    reading)."""
    edges = kg.select(
        F.col("subj_qid").alias("qid1"),
        "rel",
        F.col("obj_qid").alias("qid2"),
    ).distinct()
    totals = pairs.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("long").alias("n_pattern")
    )
    hits = (
        pairs.join(edges, ["qid1", "qid2"])
        .groupBy("pattern", "rel")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return hits.join(totals, "pattern").select(
        "pattern",
        "rel",
        "support",
        "n_pattern",
        F.round(F.col("support") / F.col("n_pattern"), 6).alias("precision"),
    )


def bootstrap_patterns(
    pairs: DataFrame,
    kg: DataFrame,
    min_support: int = 2,
    min_precision: float = 0.1,
) -> DataFrame:
    """(subj_qid, rel, obj_qid, accepted_round, n_evidence, confidence):
    the full DIPRE/Snowball bootstrap — each round re-mines patterns
    against the KG GROWN by the previous round's accepted proposals,
    so newly accepted facts recruit new patterns which recruit new
    facts. Two fixed rounds (convergence shows up as an empty later
    round, which the oracle checks too); each accepted triple is
    stamped with the round that first proposed it (rounds are disjoint
    by construction — the apply anti-join removes everything already
    known, including earlier acceptances).

    Scale shape per round: one mine (two aggs + edge equi-join, the
    pattern-grain dictionary) + one apply (broadcast dictionary +
    triple-key anti-join); the known set grows by the acceptance
    stream and is lazily localCheckpoint-ed so the plan stays O(1) per
    round. ``pairs`` is re-joined every round — materialize it once
    upstream (same rule as the truth-discovery claims frame)."""
    pairs = pairs.localCheckpoint(eager=False)
    known = kg.select("subj_qid", "rel", "obj_qid").distinct()
    out = None
    for i in range(1, 3):
        mined = mine_patterns(pairs, known)
        props = apply_patterns(pairs, mined, known, min_support, min_precision).select(
            "subj_qid",
            "rel",
            "obj_qid",
            F.lit(i).cast("int").alias("accepted_round"),
            "n_evidence",
            "confidence",
        ).localCheckpoint(eager=False)  # feeds both the output and the grown KG
        out = props if out is None else out.unionByName(props)
        known = (
            known.unionByName(props.select("subj_qid", "rel", "obj_qid"))
            .localCheckpoint(eager=False)
        )
    return out


def apply_patterns(
    pairs: DataFrame,
    mined: DataFrame,
    kg: DataFrame,
    min_support: int = 2,
    min_precision: float = 0.1,
) -> DataFrame:
    """(subj_qid, rel, obj_qid, n_evidence, confidence): triples
    PROPOSED by the kept patterns (support ≥ min_support, precision ≥
    min_precision) for pairs the KG does not already relate under that
    predicate. n_evidence counts supporting pair instances; confidence
    is the best precision among the patterns that proposed the triple
    (rounded to 6). The mined dictionary is broadcast; known facts
    leave via one anti-join on the full triple key."""
    kept = mined.where(
        (F.col("support") >= min_support)
        & (F.col("precision") >= min_precision)
    ).select("pattern", "rel", "precision")
    proposed = pairs.join(F.broadcast(kept), "pattern").select(
        F.col("qid1").alias("subj_qid"),
        "rel",
        F.col("qid2").alias("obj_qid"),
        "precision",
    )
    known = kg.select("subj_qid", "rel", "obj_qid").distinct()
    return (
        proposed.join(known, ["subj_qid", "rel", "obj_qid"], "left_anti")
        .groupBy("subj_qid", "rel", "obj_qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evidence"),
            F.round(F.max("precision"), 6).alias("confidence"),
        )
    )
