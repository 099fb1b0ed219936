"""AMIE-style horn-rule mining over the KG — learn 2-hop composition
rules ``(a, r1, b) ∧ (b, r2, c) ⇒ (a, r3, c)`` from the graph itself,
then apply the confident ones to propose missing triples (KG
completion from structure, complementing the text-side
distant-supervision loop in patterns.py; cf. Galárraga et al.,
AMIE, WWW'13).

Scale shape:
- :func:`mine_rules` — one 2-hop self-join on the shared endpoint
  (the path_motifs join; bounded by degree distribution, never
  all-pairs), reduced to DISTINCT (r1, r2, a, c) bindings BEFORE the
  head probe so hub-mediated path multiplicity never inflates counts,
  then one equi-join against the edge set as the head-existence probe
  and two (rule-grain) aggregations. Output is |rel|³ rows at most.
- :func:`apply_rules` — the mined rule table (post support/confidence
  cut) is a tiny dim → broadcast join onto the distinct body bindings;
  known facts leave via one anti-join on the triple key; evidence
  aggregated at triple grain. Identical architecture to
  patterns.apply_patterns, so the two proposal streams can union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bindings(edges: DataFrame) -> DataFrame:
    """DISTINCT (r1, r2, a, c) body bindings of the 2-hop composition
    body, a ≠ c (self-closing bindings carry no completion signal)."""
    e1 = edges.select(
        F.col("subj_qid").alias("a"), F.col("rel").alias("r1"), F.col("obj_qid").alias("b")
    )
    e2 = edges.select(
        F.col("subj_qid").alias("b"), F.col("rel").alias("r2"), F.col("obj_qid").alias("c")
    )
    return (
        e1.join(e2, "b")
        .where(F.col("a") != F.col("c"))
        .select("r1", "r2", "a", "c")
        .distinct()
    )


def mine_rules(kg: DataFrame, min_support: int = 2) -> DataFrame:
    """(r1, r2, r3, support, n_body, confidence): for every rule shape,
    ``n_body`` = distinct (a, c) body bindings, ``support`` = bindings
    whose head edge (a, r3, c) exists, confidence = support / n_body
    rounded to 6. Rules below min_support are dropped (AMIE's head
    coverage pruning, simplified to absolute support)."""
    edges = kg.select("subj_qid", "rel", "obj_qid").distinct()
    bindings = _bindings(edges)
    totals = bindings.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("long").alias("n_body")
    )
    heads = edges.select(
        F.col("subj_qid").alias("a"), F.col("rel").alias("r3"), F.col("obj_qid").alias("c")
    )
    support = (
        bindings.join(heads, ["a", "c"])
        .groupBy("r1", "r2", "r3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= min_support)
    )
    return support.join(totals, ["r1", "r2"]).select(
        "r1",
        "r2",
        "r3",
        "support",
        "n_body",
        F.round(F.col("support") / F.col("n_body"), 6).alias("confidence"),
    )


def apply_rules(kg: DataFrame, mined: DataFrame, min_confidence: float = 0.1) -> DataFrame:
    """(subj_qid, rel, obj_qid, n_rules, confidence): triples PROPOSED
    by the kept rules (confidence ≥ min_confidence) for body bindings
    whose head edge the KG lacks. ``n_rules`` counts distinct proposing
    rule shapes; ``confidence`` is the best among them. Rule dim
    broadcast; known facts removed by one anti-join on the triple
    key."""
    edges = kg.select("subj_qid", "rel", "obj_qid").distinct()
    kept = mined.where(F.col("confidence") >= min_confidence).select(
        "r1", "r2", "r3", "confidence"
    )
    proposed = _bindings(edges).join(F.broadcast(kept), ["r1", "r2"]).select(
        F.col("a").alias("subj_qid"),
        F.col("r3").alias("rel"),
        F.col("c").alias("obj_qid"),
        "confidence",
    )
    return (
        proposed.join(edges, ["subj_qid", "rel", "obj_qid"], "left_anti")
        .groupBy("subj_qid", "rel", "obj_qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rules"),
            F.round(F.max("confidence"), 6).alias("confidence"),
        )
    )
