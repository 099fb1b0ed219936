"""Similarity search over the ``embedding`` column (array<float>) of
``vec_id``-keyed vector frames.

Engine extension beyond the reference (its nearest analogue is the
faiss IndexFlatIP top-k retrieval in cand_gen/eval.py:291-356):

- :func:`cosine_topk_bruteforce` — exact top-k: the (small) query set
  broadcast against one scan of the full table, no shuffle until the
  per-query top-k window.
- :func:`ivf_topk` — IVF: each query searches its ``n_probe`` closest
  k-means cells (:func:`ivf_centroids`).
- :func:`signbit_lsh_topk` — search within the query's sign-bit
  bucket: O(Q·N) becomes O(Q·N/2^4), recall traded off.
- :func:`build_ivf_table` / :func:`ivf_table_topk` — the IVF index as
  a snapshot-table layout: a query opens only its probe cells' files.
- :func:`embedding_near_pairs` — cosine near-duplicate pairs within
  sign-bit buckets.

Every top-k path ends in one scorer (:func:`_topk`): one rounded
cosine, rank and tie rule, so ``n_probe = n_cells`` reproduces the
brute force exactly. The vector math is JVM-side (zip_with/aggregate);
only the IVF table's probe pick runs in numpy, on the executors.
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


def _side(df: DataFrame, id_col: str, vec_col: str, role: str, *keep) -> DataFrame:
    """``{role}_id``, ``{role}_v`` and ``{role}_n`` (the L2 norm) plus
    ``keep``. The norm is computed here, once per row BEFORE any fan-out
    join, not once per (query, candidate) pair (guide §1.2 per-task
    work)."""
    return df.select(
        F.col(id_col).alias(f"{role}_id"),
        F.col(vec_col).alias(f"{role}_v"),
        _norm(F.col(vec_col)).alias(f"{role}_n"),
        *keep,
    )


def _cos(a: str, b: str):
    """Cosine of sides ``a`` and ``b``, rounded to 6 dp (engine-stable)."""
    return F.round(
        _dot(F.col(f"{a}_v"), F.col(f"{b}_v")) / (F.col(f"{a}_n") * F.col(f"{b}_n")), 6
    )


def _topk(queries: DataFrame, cands: DataFrame, k: int, on: str | None = None) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_sim): the broadcast ``query``
    side joined to the ``neighbor`` side on ``on`` (every candidate when
    ``None``), self-pairs dropped, the top ``k`` per query by ``cos_sim``
    desc then ``neighbor_id`` asc (deterministic ties)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        F.broadcast(queries)
        .join(cands, on)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", _cos("query", "neighbor"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cos_sim")
    )


def cosine_topk_bruteforce(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` ids."""
    queries = _side(emb.where(F.col("vec_id") < n_queries), "vec_id", "embedding", "query")
    return _topk(queries, _side(emb, "vec_id", "embedding", "neighbor"), k)


def signbit_bucket(vec_col):
    """LSH bucket id from the sign bits of the first 4 dimensions."""
    out = F.lit(0)
    for i in range(4):
        out = out + F.when(F.element_at(vec_col, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out.cast("long")


def _assign_to_centroids(emb: DataFrame, cents: DataFrame, top_n: int = 1) -> DataFrame:
    """The ``top_n`` closest cells per id by rounded cosine to the
    broadcast centroids, ties by lowest centroid id. ``top_n=1`` is cell
    assignment; ``top_n>1`` is a query's probe set — one definition so
    the assignment and probe tie rules can never diverge (ivf_topk's
    full-probe ≡ brute-force claim depends on that). One scan of the
    big side, per-id window."""
    w = Window.partitionBy("v_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        _side(emb, "vec_id", "embedding", "v")
        .crossJoin(F.broadcast(_side(cents, "cell", "cv", "c")))
        .withColumn("sim", _cos("v", "c"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_n)
        .select(
            F.col("v_id").alias("vec_id"),
            F.col("v_v").alias("embedding"),
            F.col("c_id").alias("cell"),
        )
    )


def ivf_centroids(emb: DataFrame, n_cells: int = 8) -> DataFrame:
    """(cell, cv) k-means centroids: deterministic seeds (the first
    ``n_cells`` vectors) + one Lloyd iteration.

    The iteration is assign (broadcast centroids, one scan) →
    per-cell component mean (posexplode → groupBy(cell, pos) avg —
    map-side partial agg, no all-pairs anywhere). Means are NOT
    L2-normalized: cosine argmax is scale-invariant, so the mean's
    direction is all that matters — and skipping the norm keeps the
    SQL oracle mirror exact. Components round to 6 dp so Spark's and
    the oracle's float summation orders cannot drift. Cells that lose
    all members simply drop out (their centroid disappears), matching
    the SQL mirror.
    """
    seeds = emb.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
    )
    assigned = _assign_to_centroids(emb, seeds)
    comp = assigned.select("cell", F.posexplode(F.col("embedding")).alias("pos", "val"))
    means = comp.groupBy("cell", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("m")
    )
    return (
        means.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.transform("pm", lambda x: x["m"]).alias("cv"))
    )


def _probe_topk(probes: DataFrame, assigned: DataFrame):
    """Top-5 inside the probe cells: ``probes`` holds one (id, vector,
    cell) row per probed cell of each query, ``assigned`` every
    candidate with its cell. No dedup: every vector lives in exactly one
    cell and a query's probe cells are distinct, so (query, neighbor)
    pairs are unique by construction."""
    queries = _side(probes, "vec_id", "embedding", "query", "cell")
    return _topk(queries, _side(assigned, "vec_id", "embedding", "neighbor", "cell"), 5, on="cell")


def ivf_topk(emb: DataFrame, n_queries: int = 10, n_cells: int = 8, n_probe: int = 1) -> DataFrame:
    """IVF-bucketed ANN: each query searches its ``n_probe`` closest
    cells (faiss's nprobe knob; the reference's analogue is the faiss
    index in cand_gen/eval.py). Turns O(Q·N) into O(Q·N·n_probe/cells)
    at a recall tradeoff; ``n_probe = n_cells`` scans every cell and
    reproduces :func:`cosine_topk_bruteforce` exactly (same rounding
    and tie rules — pinned by tests/test_dedup_similarity.py). At
    ``n_probe=1`` a query searches its own assignment cell."""
    cents = ivf_centroids(emb, n_cells)
    queries = emb.where(F.col("vec_id") < n_queries)
    probes = _assign_to_centroids(queries, cents, top_n=n_probe)
    return _probe_topk(probes, _assign_to_centroids(emb, cents))


def signbit_lsh_topk(emb: DataFrame) -> DataFrame:
    """Approximate top-5 neighbors of ids < 10: candidates restricted to
    the query's 4-sign-bit bucket (equi-join on bucket instead of a
    broadcast fan-out)."""
    with_bucket = emb.withColumn("bucket", signbit_bucket(F.col("embedding")))
    queries = with_bucket.where(F.col("vec_id") < 10)
    return _topk(
        _side(queries, "vec_id", "embedding", "query", "bucket"),
        _side(with_bucket, "vec_id", "embedding", "neighbor", "bucket"),
        5,
        on="bucket",
    )


def embedding_near_pairs(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim ≥
    threshold) with candidates restricted to sign-bit LSH buckets — the
    embedding-space analogue of minhash_verified_pairs (bucket join
    proposes, exact cosine verifies; never all-pairs). Output feeds
    dedup.dup_clusters for keep-one-per-cluster semantics."""
    with_bucket = emb.withColumn("bucket", signbit_bucket(F.col("embedding")))
    return (
        _side(with_bucket, "vec_id", "embedding", "a", "bucket")
        .join(_side(with_bucket, "vec_id", "embedding", "b", "bucket"), "bucket")
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("cos_sim", _cos("a", "b"))
        .where(F.col("cos_sim") >= threshold)
        .select(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"), "cos_sim")
    )


def build_ivf_table(emb: DataFrame, table: str, n_cells: int = 8) -> dict:
    """Materialize an IVF vector INDEX AS TABLE LAYOUT: vectors are
    cell-assigned (same Lloyd centroids + tie rules as :func:`ivf_topk`)
    and written as a snapshot-manifest table range-partitioned on
    ``cell`` — each data file then carries a tight cell [min, max] in
    the manifest, and the centroids themselves ride in the snapshot
    metadata (every later commit but an overwrite carries them). A
    top-k query (:func:`ivf_table_topk`) picks its probe cells from the
    broadcast-small centroid list and opens ONLY the files whose cell
    range intersects, via metadata — the LanceDB/Iceberg-vector access
    pattern: at 10^9 vectors a 1-probe query reads ~1/n_cells of the
    data and ZERO bytes of the rest, without any serving infrastructure
    beyond the table."""
    from bootleg_spark.sources import snaptable as st

    cents = ivf_centroids(emb, n_cells)
    assigned = _assign_to_centroids(emb, cents)
    cent_rows = sorted((int(r["cell"]), [float(x) for x in r["cv"]]) for r in cents.collect())
    df = assigned.withColumn("cell", F.col("cell").cast("long"))
    return st.write_table(
        df.repartitionByRange(n_cells, "cell", "vec_id"),
        table,
        extra={"ivf": {"n_cells": n_cells, "centroids": cent_rows}},
    )


def ivf_table_topk(spark, table: str, n_queries: int = 10, n_probe: int = 1) -> DataFrame:
    """Top-5 cosine neighbors over a :func:`build_ivf_table` table,
    reading only probed cells' files. Query vectors are the ids <
    ``n_queries`` (the suite's fixed protocol). Queries and candidates
    are read at the one snapshot version whose centroids pick the
    probes, with that snapshot's pending deletes applied.
    ``n_probe = n_cells`` reads everything and reproduces
    :func:`cosine_topk_bruteforce` exactly (same rounding and tie rules
    — pytest + the shared driver oracle pin it); smaller ``n_probe``
    trades recall for opening ~``n_probe/n_cells`` of the files."""
    from bootleg_spark.sources import snaptable as st

    snap = st.load_snapshot(table)
    if snap.get("ivf") is None:
        raise ValueError(
            f"{table} v{snap['version']} carries no IVF centroids — an overwrite "
            "drops them; rebuild the index with build_ivf_table"
        )
    centroids = snap["ivf"]["centroids"]  # [(cell, vector)], cell-sorted

    # probes are picked EXECUTOR-side against the broadcast-small
    # centroid list in one mapInPandas pass; only the probed cell ids
    # (at most n_cells) reach the driver, which prunes the files. Same
    # tie rule as _assign_to_centroids: rounded-6 cosine desc, cell asc.
    def _score_probes(batches):
        import numpy as np
        import pandas as pd

        cells = np.array([c for c, _ in centroids])
        C = np.array([v for _, v in centroids], dtype=float)
        cn = np.linalg.norm(C, axis=1)
        for pdf in batches:
            rows = []
            for qid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                qv = np.asarray(vec, dtype=float)
                sims = np.round(C @ qv / (cn * np.linalg.norm(qv)), 6)
                for i in np.lexsort((cells, -sims))[:n_probe]:
                    rows.append((int(qid), qv.tolist(), int(cells[i])))
            yield pd.DataFrame(rows, columns=["vec_id", "embedding", "cell"])

    # lazy localCheckpoint: the cells collect below materializes the
    # probes once and the returned plan reads those blocks, instead of
    # re-running the scoring pass inside the join
    probes = (
        st.read_snapshot(spark, table, snap)
        .where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .mapInPandas(_score_probes, "vec_id long, embedding array<double>, cell long")
        .localCheckpoint(eager=False)
    )
    cells = sorted(r["cell"] for r in probes.select("cell").distinct().collect())
    # no probes (no id < n_queries) prunes every file: an empty frame
    cands = st.read_snapshot(spark, table, snap, prune=("cell", "in", cells))
    return _probe_topk(probes, cands)
