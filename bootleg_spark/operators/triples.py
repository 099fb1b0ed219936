"""Triple emission: linked mentions → (subj, pred, obj) KG triples.

north_rule: canonicalized linked entities are joined against the
relation table to emit deduplicated (subj, pred, obj) triples. The
relation lookup mirrors kg_symbols.get_relations_between
(bootleg/symbols/kg_symbols.py:191-210) applied to entity pairs
co-mentioned on the same page.

Scale notes (the part the reference never had to solve):
- the per-page entity set is first deduplicated (dropDuplicates on
  (page, qid)) so a page mentioning "spark" 50 times contributes one
  node, bounding the pair fan-out;
- the pair→relation join broadcasts the relation dim;
- the final (s,p,o) dedup is a partial-agg shuffle; AQE skew-join
  handles head entities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_entities(linked: DataFrame, qid_col: str = "qid_pred") -> DataFrame:
    """Distinct (page, qid) — bounds pair fan-out before the self-join."""
    return linked.select("doc_id", F.col(qid_col).alias("qid")).distinct()


def cooccurrence_pairs(ents: DataFrame) -> DataFrame:
    """Ordered entity pairs co-occurring on a page (both directions kept:
    relations are directed).

    WARNING — O(k²) per page: a page with k entities emits k·(k−1) pair
    rows, and the expansion happens *after* AQE has sized the shuffle,
    so dense pages silently serialize the join. Kept for semantic
    reference/tests; the production plan is
    :func:`triples_from_doc_entities`, which never materializes pairs.
    """
    e1 = ents.select("doc_id", F.col("qid").alias("subj"))
    e2 = ents.select("doc_id", F.col("qid").alias("obj"))
    return e1.join(e2, "doc_id").where(F.col("subj") != F.col("obj"))


def emit_triples(pairs: DataFrame, kg_relations: DataFrame) -> DataFrame:
    """pairs ⋈ broadcast(kg_relations) → dedup'd (subj, pred, obj)."""
    rel = kg_relations.select(
        F.col("subj_qid").alias("subj"), F.col("rel").alias("pred"), F.col("obj_qid").alias("obj")
    )
    joined = pairs.join(F.broadcast(rel), ["subj", "obj"])
    return joined.select("subj", "pred", "obj").dropDuplicates()


def triples_from_doc_entities(
    ents: DataFrame, kg_relations: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """(doc_id, qid) → dedup'd (subj, pred, obj), WITHOUT the pair blowup.

    Semantically identical to ``emit_triples(cooccurrence_pairs(ents))``:
    a relation (s, p, o) is emitted iff some page mentions both s and o.
    ``group_cols`` optionally keeps extra per-page columns (each must be
    functionally determined by doc_id, e.g. a bucket id) and dedups per
    group — used by the single-pass bucketed materializer.
    Plan: fan each page-entity out over its ≤max_connections relations
    via a broadcast hash join (map-side, bounded by the relation cap —
    kg_symbols.py:39), then LEFT SEMI join back against the page-entity
    set on (doc_id, obj) to test "obj also on this page". Row count is
    O(k·E[edges]) per page instead of O(k²), one shuffle on
    (doc_id, qid), and the final distinct is tiny.
    """
    groups = group_cols or []
    rel = kg_relations.select(
        F.col("subj_qid").alias("qid"), F.col("rel").alias("pred"), F.col("obj_qid").alias("obj")
    )
    cand = ents.join(F.broadcast(rel), "qid")  # (doc_id, qid=subj, pred, obj)
    on_page = ents.select("doc_id", F.col("qid").alias("obj"))
    # SHUFFLE_HASH: build side (per-page entity set) is the smaller stream
    # and the join is equi on (doc_id, obj) — a shuffled hash join skips
    # both sort passes a SortMergeJoin would add at 10^12-page scale
    confirmed = cand.join(on_page.hint("shuffle_hash"), ["doc_id", "obj"], "left_semi")
    return (
        confirmed.select(*groups, F.col("qid").alias("subj"), "pred", "obj")
        .dropDuplicates(groups + ["subj", "pred", "obj"])
    )


def cooccurrence_pmi(ents: DataFrame) -> DataFrame:
    """(qid_a, qid_b, n_pair, n_a, n_b, pmi, npmi): pointwise mutual
    information of entity co-occurrence at page grain — the
    distant-supervision signal relation-extraction pipelines rank
    candidate entity pairs by before proposing NEW relations (Mintz et
    al. ACL'09 start from exactly this table). Probabilities are doc
    frequencies over N = distinct pages in ``ents``; pairs unordered
    (qid_a < qid_b), emitted when seen on ≥ 2 pages;
    npmi = pmi / −ln(p(a,b)) (Bouma 2009), with the p(a,b)=1 corner
    pinned to 1.0 before the division can hit −ln(1)=0. Rounds to 6
    for display; npmi divides the UNROUNDED pmi.

    Scale shape: the pair self-join is keyed on doc_id with fan-out
    bounded by entities-per-page (``ents`` is already page-distinct —
    the same bound triples_from_doc_entities relies on); pair counts
    and entity counts are map-side-combined aggregations; the two
    frequency lookups broadcast the O(V) entity-count dim. N is one
    driver-side count of a dim-sized distinct — not a collect of data.
    """
    n_docs = ents.select("doc_id").distinct().count()
    ent_counts = ents.groupBy("qid").agg(F.count(F.lit(1)).cast("long").alias("n_q"))
    e1 = ents.select("doc_id", F.col("qid").alias("qid_a"))
    e2 = ents.select("doc_id", F.col("qid").alias("qid_b"))
    pairs = (
        e1.join(e2, "doc_id")
        .where(F.col("qid_a") < F.col("qid_b"))
        .groupBy("qid_a", "qid_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= 2)
    )
    ca = F.broadcast(ent_counts.select(F.col("qid").alias("qid_a"), F.col("n_q").alias("n_a")))
    cb = F.broadcast(ent_counts.select(F.col("qid").alias("qid_b"), F.col("n_q").alias("n_b")))
    pmi = F.log(
        (F.col("n_pair").cast("double") * F.lit(float(n_docs)))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    npmi = F.when(F.col("n_pair") == n_docs, F.lit(1.0)).otherwise(
        pmi / -F.log(F.col("n_pair").cast("double") / F.lit(float(n_docs)))
    )
    return (
        pairs.join(ca, "qid_a")
        .join(cb, "qid_b")
        .select(
            "qid_a", "qid_b", "n_pair", "n_a", "n_b",
            F.round(pmi, 6).alias("pmi"),
            F.round(npmi, 6).alias("npmi"),
        )
    )
