"""Knowledge fusion — the quality gate between extracted triples and a
publishable KG (the Knowledge Vault pattern, Dong et al. KDD'14).

Extraction (linking, distant-supervision patterns) produces triples of
uneven reliability; fusion scores them against what the graph already
believes:

- :func:`relation_signatures` LEARNS each predicate's dominant
  (subject-type, object-type) signature from the KG itself — no
  hand-written ontology input — with per-signature support and the
  within-relation fraction.
- :func:`type_violations` flags triples whose endpoint-type pair falls
  below a signature-fraction threshold: the cheap, high-yield error
  screen (a "capital_of" edge between two persons).
- :func:`functional_conflicts` finds (subj, rel) groups asserting
  multiple objects for predicates declared functional (birthplace-like:
  at most one true object).
- :func:`resolve_functional` resolves those groups by evidence weight
  (argmax, deterministic tie-break), keeping non-functional relations
  untouched — single-truth selection, the simplest useful instance of
  truth discovery.

Scale shape: the entity→type map is a dimension (broadcast at test SF;
the joins are plain equi-joins on qid so beyond-broadcast sizes shuffle
on the same key with no plan change — same contract as the candidate
join in candidates.py). Signature learning is one aggregation at
(rel, type-pair) grain; violation flagging re-joins the signature dim
(tiny: |rels| × |type pairs|) broadcast-style. Conflict resolution is
a max_by at (subj, rel) grain — map-side combinable, no window sort.

Reference tie-in: the type system mirrors the reference's
type_symbols.py (types per qid) and kg_symbols.py (relations per qid
pair); fusion is what its downstream consumers do with the emitted
triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def relation_signatures(kg: DataFrame, types: DataFrame) -> DataFrame:
    """(rel, subj_type, obj_type, support, frac): every endpoint-type
    pair observed for each relation, its triple count, and its fraction
    of the relation's typed triples (round 6). Triples whose subject or
    object lacks a type row are excluded from both numerator and
    denominator (inner joins) — untyped endpoints say nothing about the
    signature."""
    t = types.select("qid", F.col("type_name").alias("t")).distinct()
    typed = (
        kg.select("subj_qid", "rel", "obj_qid")
        .distinct()
        .join(t.withColumnRenamed("t", "subj_type"), F.col("subj_qid") == F.col("qid"))
        .drop("qid")
        .join(t.withColumnRenamed("t", "obj_type"), F.col("obj_qid") == F.col("qid"))
        .drop("qid")
    )
    sig = typed.groupBy("rel", "subj_type", "obj_type").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    tot = sig.groupBy("rel").agg(F.sum("support").alias("n_rel"))
    return sig.join(tot, "rel").select(
        "rel",
        "subj_type",
        "obj_type",
        "support",
        F.round(F.col("support") / F.col("n_rel"), 6).alias("frac"),
    )


def type_violations(kg: DataFrame, types: DataFrame, min_frac: float = 0.05) -> DataFrame:
    """(subj_qid, rel, obj_qid, subj_type, obj_type, sig_frac): triples
    whose endpoint-type pair is RARE for their relation — observed
    signature fraction < min_frac. The signature dim is learned from
    the same KG (self-supervision); a violating triple still appears in
    the signature table, which is why the screen uses a fraction
    threshold rather than absence."""
    t = types.select("qid", F.col("type_name").alias("t")).distinct()
    typed = (
        kg.select("subj_qid", "rel", "obj_qid")
        .distinct()
        .join(t.withColumnRenamed("t", "subj_type"), F.col("subj_qid") == F.col("qid"))
        .drop("qid")
        .join(t.withColumnRenamed("t", "obj_type"), F.col("obj_qid") == F.col("qid"))
        .drop("qid")
    )
    sig = relation_signatures(kg, types)
    return typed.join(
        F.broadcast(sig.where(F.col("frac") < min_frac)),
        ["rel", "subj_type", "obj_type"],
    ).select(
        "subj_qid",
        "rel",
        "obj_qid",
        "subj_type",
        "obj_type",
        F.col("frac").alias("sig_frac"),
    )


def functional_conflicts(kg: DataFrame, functional_rels: list[str]) -> DataFrame:
    """(subj_qid, rel, n_objects, objects): subjects asserting more than
    one object under a relation declared functional. ``objects`` is the
    sorted distinct object list (deterministic row content)."""
    return (
        kg.select("subj_qid", "rel", "obj_qid")
        .where(F.col("rel").isin(functional_rels))
        .distinct()
        .groupBy("subj_qid", "rel")
        .agg(
            F.countDistinct("obj_qid").cast("long").alias("n_objects"),
            F.array_sort(F.collect_set("obj_qid")).alias("objects"),
        )
        .where(F.col("n_objects") > 1)
    )


def resolve_functional(kg: DataFrame, evidence: DataFrame, functional_rels: list[str]) -> DataFrame:
    """(subj_qid, rel, obj_qid, weight): one object per (subj, rel) for
    functional relations — the max-evidence object, ties broken by
    smallest obj_qid (deterministic) — non-functional triples passed
    through with their evidence weight (0 when absent, matching
    missing-evidence objects inside functional groups, which still
    participate and lose to any attested rival).

    Selection is ``max_by`` over a struct ordered (weight desc, obj
    asc), i.e. one map-side-combinable aggregation at (subj, rel)
    grain — no window sort, no skew from hub subjects."""
    e = evidence.select(
        F.col("subj_qid"), F.col("rel"), F.col("obj_qid"), F.col("weight")
    )
    weighted = (
        kg.select("subj_qid", "rel", "obj_qid")
        .distinct()
        .join(e, ["subj_qid", "rel", "obj_qid"], "left")
        .withColumn("weight", F.coalesce(F.col("weight"), F.lit(0.0)))
    )
    func = weighted.where(F.col("rel").isin(functional_rels))
    # max_by with an explicit orderable struct: weight desc via negation
    # is avoided (floats) — use (weight, reversed-string) pair instead:
    # Spark's max_by keeps the row with the greatest struct, so order by
    # (weight asc → greatest = max weight, then obj desc → we need MIN
    # obj on ties). Encode tie-break by comparing on (weight, neg-obj)
    # via a second aggregation-free trick: min_by over (neg weight, obj).
    picked = func.groupBy("subj_qid", "rel").agg(
        F.min_by(
            F.struct(F.col("obj_qid"), F.col("weight")),
            F.struct((-F.col("weight")).alias("nw"), F.col("obj_qid").alias("o")),
        ).alias("best")
    )
    resolved = picked.select(
        "subj_qid",
        "rel",
        F.col("best")["obj_qid"].alias("obj_qid"),
        F.col("best")["weight"].alias("weight"),
    )
    rest = weighted.where(~F.col("rel").isin(functional_rels))
    return resolved.unionByName(rest)


def observation_spans(attestations: DataFrame, pages: DataFrame) -> DataFrame:
    """(subj, pred, obj, first_seen, last_seen, n_pages): temporal scoping
    of extracted facts — when the crawl first and last observed each
    triple, and on how many distinct pages. ``attestations`` is
    page-grain (doc_id, triple); ``pages`` carries the crawl timestamp.
    One equi-join on the page key + one triple-grain aggregation
    (min/max/count are map-side combinable); at 10^12 pages the join is
    a straight co-partitionable equi-join on the page id, and the
    output is |distinct triples| rows."""
    keys = ["subj", "pred", "obj"]
    ts = pages.select(F.col("doc_id"), F.col("warc_ts"))
    return (
        attestations.select("doc_id", *keys)
        .distinct()
        .join(ts, "doc_id")
        .groupBy(*keys)
        .agg(
            F.min("warc_ts").alias("first_seen"),
            F.max("warc_ts").alias("last_seen"),
            F.countDistinct("doc_id").cast("long").alias("n_pages"),
        )
    )


def source_trust(claims: DataFrame, iters: int = 3) -> tuple[DataFrame, DataFrame]:
    """Iterative source-reliability estimation over a claim bipartite
    graph (the Sums/HITS instance of truth discovery; the per-source
    prior Knowledge Vault feeds its fusion layer).

    ``claims`` holds one row per (source, claim) attestation. Each
    round: claim confidence = Σ trust of asserting sources, max-
    normalized; source trust = Σ confidence of asserted claims, max-
    normalized. Starts from uniform trust 1.0; fixed ``iters`` rounds
    (fixed-iteration like :func:`~bootleg_spark.operators.graph.pagerank`
    so the oracle can unroll the same chain).

    Returns (trust, conf): (source, trust) and (subj_qid, rel, obj_qid, conf),
    both from the final round, unrounded.

    Scale shape: per round two keyed aggregations (claim grain, source
    grain) and two broadcast joins against single-row max frames — no
    window over all rows, no collect. The trust frame (|sources| rows —
    registered domains at web scale, ≪ claims) is lazily
    localCheckpoint-ed per round so the logical plan stays O(1) per
    iteration (the lineage rule of :func:`ids.fixpoint`)."""
    keys = ["subj_qid", "rel", "obj_qid"]
    # the claim set is re-joined twice per round — materialize it once
    # (its upstream is the whole extraction pipeline; without this the
    # lineage re-executes 2×iters times: measured 13 s → ~5 s at sf0.1)
    c = claims.select("source", *keys).distinct().localCheckpoint(eager=False)
    trust = c.select("source").distinct().withColumn("trust", F.lit(1.0))
    conf = None
    for _ in range(iters):
        raw_conf = (
            c.join(trust, "source")
            .groupBy(*keys)
            .agg(F.sum("trust").alias("rc"))
        )
        mc = raw_conf.agg(F.max("rc").alias("m"))
        conf = raw_conf.crossJoin(F.broadcast(mc)).select(
            *keys, (F.col("rc") / F.col("m")).alias("conf")
        )
        raw_trust = (
            c.join(conf, keys).groupBy("source").agg(F.sum("conf").alias("rt"))
        )
        mt = raw_trust.agg(F.max("rt").alias("m"))
        trust = (
            raw_trust.crossJoin(F.broadcast(mt))
            .select("source", (F.col("rt") / F.col("m")).alias("trust"))
            .localCheckpoint(eager=False)
        )
    return trust, conf
