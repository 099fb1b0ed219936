"""Similarity search over embedding columns (array<float>).

Engine extension beyond the reference (its nearest analogue is the
faiss IndexFlatIP top-k retrieval in cand_gen/eval.py:291-356):

- :func:`cosine_topk_bruteforce` — exact top-k cosine neighbors via a
  broadcast join of the (small) query set against the full table. At
  cluster scale the query side stays broadcast and the big side is
  scanned once — embarrassingly parallel, no shuffle until the
  per-query top-k window.
- :func:`signbit_lsh_topk` — LSH-bucketed variant: bucket on the sign
  bits of the leading dimensions, search within bucket only (the scale
  path: turns O(Q·N) into O(Q·N/2^bits) with recall traded off).

All vector math is JVM-side (zip_with/aggregate) — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_topk_bruteforce(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` ids.

    Output (query_id, neighbor_id, rank, cos_sim) with cos_sim rounded
    to 6 dp (stable across engines); rank windows order by the rounded
    score then neighbor id for deterministic ties.
    """
    # norms precomputed once per row on each side BEFORE the fan-out
    # join (guide §1.2 per-task work): computed inside the pair
    # projection they re-ran per (query, candidate) row — |Q|× per
    # candidate and |N|× per query. Same expression, same float ops,
    # identical rounded values.
    q = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cos_sim")
    )


def signbit_bucket(vec_col, bits: int = 8):
    """LSH bucket id from the sign bits of the first ``bits`` dimensions."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(F.element_at(vec_col, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out.cast("long")


def _assign_to_centroids(
    emb: DataFrame, cents: DataFrame, id_col: str, vec_col: str, top_n: int = 1
) -> DataFrame:
    """The ``top_n`` closest cells per id by rounded cosine to the
    broadcast centroids, ties by lowest centroid id. ``top_n=1`` is cell
    assignment; ``top_n>1`` is a query's probe set — one definition so
    the assignment and probe tie rules can never diverge (ivf_topk's
    full-probe ≡ brute-force claim depends on that). One scan of the
    big side, per-id window."""
    cents_n = cents.select("cell", "cv", _norm(F.col("cv")).alias("_cn"))
    scored = (
        emb.withColumn("_vn", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cents_n))
        .withColumn(
            "sim", F.round(_dot(F.col(vec_col), F.col("cv")) / (F.col("_vn") * F.col("_cn")), 6)
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("cell"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_n)
        .select(F.col(id_col), F.col(vec_col), F.col("cell"))
    )


def ivf_centroids(
    emb: DataFrame,
    n_cells: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, cv) k-means centroids: deterministic seeds (the first
    ``n_cells`` vectors) + ``n_iter`` Lloyd iterations.

    Each iteration is assign (broadcast centroids, one scan) →
    per-cell component mean (posexplode → groupBy(cell, pos) avg —
    map-side partial agg, no all-pairs anywhere). Means are NOT
    L2-normalized: cosine argmax is scale-invariant, so the mean's
    direction is all that matters — and skipping the norm keeps the
    SQL oracle mirror exact. Components round to 6 dp so Spark's and
    the oracle's float summation orders cannot drift. Cells that lose
    all members simply drop out (their centroid disappears), matching
    the SQL mirror.
    """
    cents = emb.where(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("cv")
    )
    for _ in range(n_iter):
        assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
        comp = assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "val"))
        means = comp.groupBy("cell", "pos").agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("m")
        )
        cents = (
            means.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda x: x["m"]).alias("cv"))
        )
    return cents


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 1,
    n_probe: int = 1,
) -> DataFrame:
    """IVF-bucketed ANN: each query searches its ``n_probe`` closest
    cells (faiss's nprobe knob; the reference's analogue is the faiss
    index in cand_gen/eval.py). Turns O(Q·N) into O(Q·N·n_probe/cells)
    at a recall tradeoff; ``n_probe = n_cells`` scans every cell and
    reproduces :func:`cosine_topk_bruteforce` exactly (same rounding
    and tie rules — pinned by tests/test_dedup_similarity.py).

    ``n_probe=1`` keeps the original single-cell behavior: the query's
    closest centroid is its own assignment cell, so the oracle-checked
    output is unchanged."""
    cents = ivf_centroids(emb, n_cells, n_iter, id_col, vec_col)
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    qv = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    probes = _assign_to_centroids(qv, cents, "query_id", "qv", top_n=n_probe)
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "cell",
        _norm(F.col(vec_col)).alias("cn"),
    )
    probes_n = probes.withColumn("qn", _norm(F.col("qv")))
    scored = (
        F.broadcast(probes_n)
        .join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        # no dedup needed: every vector lives in exactly one cell and a
        # query's probe cells are distinct, so (query, neighbor) pairs
        # are unique by construction
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cos_sim")
    )


def signbit_lsh_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-bit
    bucket (equi-join on bucket instead of a broadcast fan-out)."""
    with_bucket = emb.withColumn("bucket", signbit_bucket(F.col(vec_col), bits))
    q = with_bucket.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        "bucket",
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = with_bucket.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "bucket",
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cos_sim")
    )


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim ≥
    threshold) with candidates restricted to sign-bit LSH buckets — the
    embedding-space analogue of minhash_verified_pairs (bucket join
    proposes, exact cosine verifies; never all-pairs). Output feeds
    dedup.dup_clusters for keep-one-per-cluster semantics."""
    with_bucket = emb.withColumn("bucket", signbit_bucket(F.col(vec_col), bits))
    a = with_bucket.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket",
        _norm(F.col(vec_col)).alias("na"),
    )
    b = with_bucket.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket",
        _norm(F.col(vec_col)).alias("nb"),
    )
    scored = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .where(F.col("cos_sim") >= threshold)
    )
    return scored.select("id_a", "id_b", "cos_sim")


def build_ivf_table(
    spark,
    emb: DataFrame,
    table: str,
    n_cells: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Materialize an IVF vector INDEX AS TABLE LAYOUT: vectors are
    cell-assigned (same Lloyd centroids + tie rules as :func:`ivf_topk`)
    and written as a snapshot-manifest table range-partitioned on
    ``cell`` — each data file then carries a tight cell [min, max] in
    the manifest, and the centroids themselves ride in the snapshot
    metadata. A top-k query (:func:`ivf_table_topk`) picks its probe
    cells from the broadcast-small centroid list and opens ONLY the
    files whose cell range intersects, via metadata — the
    LanceDB/Iceberg-vector access pattern: at 10^9 vectors a 1-probe
    query reads ~1/n_cells of the data and ZERO bytes of the rest,
    without any serving infrastructure beyond the table."""
    from bootleg_spark.sources import snaptable as st

    cents = ivf_centroids(emb, n_cells, n_iter, id_col, vec_col)
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    cent_rows = sorted(
        (int(r["cell"]), [float(x) for x in r["cv"]]) for r in cents.collect()
    )
    df = assigned.select(
        F.col(id_col), F.col(vec_col), F.col("cell").cast("long")
    ).repartitionByRange(n_cells, "cell", id_col)
    return st.write_table(
        df,
        table,
        extra={"ivf": {"n_cells": n_cells, "centroids": cent_rows}},
    )


def ivf_table_topk(
    spark,
    table: str,
    n_queries: int = 10,
    k: int = 5,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors over a :func:`build_ivf_table` table,
    reading only probed cells' files. Query vectors are the ids <
    ``n_queries`` (the suite's fixed protocol); their probe cells come
    from the snapshot's centroid metadata, scored DRIVER-side in numpy
    (queries are few by definition; the centroid list is
    broadcast-small by construction). ``n_probe = n_cells`` reads
    everything and reproduces :func:`cosine_topk_bruteforce` exactly
    (same rounding and tie rules — pytest + the shared driver oracle
    pin it); smaller ``n_probe`` trades recall for opening
    ~``n_probe/n_cells`` of the files."""
    from bootleg_spark.sources import snaptable as st

    snap = st.load_snapshot(table)
    meta = snap["ivf"]
    centroids = [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]]

    # probe selection runs EXECUTOR-side (r07 / VERDICT r06 #7): the
    # query vectors are scored against the (broadcast-small) centroid
    # list inside a mapInPandas pass instead of a driver loop over
    # collect()ed rows — at production query volumes the driver never
    # touches a vector. Only the probed CELL IDS come back to the
    # driver (bounded by n_cells), because file pruning is inherently a
    # driver decision. Same numerics and tie rule as before (numpy
    # round, cosine desc, cell asc).
    def _score_probes(batches):
        import numpy as np
        import pandas as pd

        cells = [c for c, _ in centroids]
        C = np.array([v for _, v in centroids], dtype=float)
        cn = np.linalg.norm(C, axis=1)
        for pdf in batches:
            q_o, v_o, c_o = [], [], []
            for qid, vec in zip(pdf[id_col], pdf[vec_col]):
                qv = np.asarray(list(vec), dtype=float)
                # same formula + tie rule as _assign_to_centroids:
                # rounded-6 cosine desc, cell asc
                sims = np.round(C @ qv / (cn * np.linalg.norm(qv)), 6)
                order = sorted(range(len(cells)), key=lambda i: (-sims[i], cells[i]))
                for c in (int(cells[i]) for i in order[:n_probe]):
                    q_o.append(int(qid))
                    v_o.append([float(x) for x in qv])
                    c_o.append(c)
            yield pd.DataFrame({"query_id": q_o, "qv": v_o, "cell": c_o})

    # lazy localCheckpoint: the cells collect below materializes the
    # probes once and the returned plan reads those blocks, instead of
    # re-running the scoring pass inside the join
    probes = (
        st.read_table(spark, table)
        .where(F.col(id_col) < n_queries)
        .select(id_col, vec_col)
        .mapInPandas(_score_probes, "query_id long, qv array<double>, cell long")
        .localCheckpoint(eager=False)
    )
    probe_cells = sorted(r["cell"] for r in probes.select("cell").distinct().collect())

    if not probe_cells:
        # no query vectors (no id < n_queries) → every file would be
        # pruned and spark.read.parquet(*[]) errors; the correct result
        # is simply empty (ADVICE r05)
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, cos_sim double"
        )
    _, files = st.plan_files(table, prune=("cell", "in", probe_cells))
    cand = spark.read.parquet(*files).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "cell",
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(probes.withColumn("qn", _norm(F.col("qv"))))
        .join(cand, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cos_sim")
    )
