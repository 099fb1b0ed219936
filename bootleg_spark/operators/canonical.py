"""Entity canonicalization — collapse redirect/sameAs chains and
rewrite the emitted triples onto canonical QIDs.

The reference links mentions to whatever QID its candidate map holds;
production Wikidata additionally carries REDIRECTS (merged duplicates:
Q42_dup → Q42, possibly chained through several historical merges).
The north-star contract says triples are "canonicalized to Wikidata
QIDs", so the construction pipeline must resolve every chain to its
terminal entity before materializing the graph — otherwise the same
fact lands under two ids and dedup cannot see it.

Scale shape:
- :func:`resolve_redirects` is POINTER JUMPING over the redirect map
  (qid → target): each round substitutes ``m[m[qid]]`` for ``m[qid]``,
  doubling the resolved chain depth, so a maximum chain of length L
  needs ceil(log2 L) rounds — at Wikidata scale (~10M redirects,
  chains almost always ≤ 3) that is 2 rounds of an O(|redirects|)
  self-join, never a driver-side walk. Each round is one self-join and
  one Spark job through :func:`ids.fixpoint` (lineage rule and
  convergence check live there).
- :func:`canonicalize_triples` is two LEFT joins against the resolved
  map (a dim ≪ the triple set — broadcastable) + self-loop filter +
  one distinct shuffle on the rewritten triple key.

A cycle in the redirect map (data corruption — real Wikidata forbids
it) would never converge; the loop raises after ``max_iter`` rounds
instead of silently looping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bootleg_spark.operators.ids import fixpoint


def resolve_redirects(redirects: DataFrame, max_iter: int = 20) -> DataFrame:
    """(qid, canonical): terminal target for every redirect SOURCE —
    chains followed to the first qid that is not itself redirected.
    Self-redirects (src == dst) are dropped as no-ops. Raises
    ``ValueError`` if the map has not converged after ``max_iter``
    pointer-jumping rounds (chain longer than 2^max_iter, or a cycle).
    """
    m = (
        redirects.select(F.col("src_qid").alias("qid"), F.col("dst_qid").alias("canonical"))
        .where(F.col("src_qid") != F.col("dst_qid"))
        .distinct()
    )

    def step(m: DataFrame) -> DataFrame:
        hop = m.select(F.col("qid").alias("canonical"), F.col("canonical").alias("_next"))
        return m.join(hop, "canonical", "left").select(
            "qid",
            F.coalesce("_next", "canonical").alias("canonical"),
            F.col("_next").isNotNull().alias("_changed"),
        )

    return fixpoint(m, step, max_iter, "resolve_redirects")


def canonicalize_triples(triples: DataFrame, resolved: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the resolved redirect map (qids absent
    from the map stay themselves), DROP triples that collapse to
    self-loops (both sides merged into one entity — the fact says
    nothing post-merge), and dedup the rewritten set. Columns are
    (subj_qid, rel, obj_qid) in and out."""
    r_s = resolved.select(
        F.col("qid").alias("subj_qid"), F.col("canonical").alias("_cs")
    )
    r_o = resolved.select(
        F.col("qid").alias("obj_qid"), F.col("canonical").alias("_co")
    )
    out = (
        triples.join(F.broadcast(r_s), "subj_qid", "left")
        .join(F.broadcast(r_o), "obj_qid", "left")
        .select(
            F.coalesce("_cs", "subj_qid").alias("subj_qid"),
            F.col("rel"),
            F.coalesce("_co", "obj_qid").alias("obj_qid"),
        )
        .where(F.col("subj_qid") != F.col("obj_qid"))
        .distinct()
    )
    return out
