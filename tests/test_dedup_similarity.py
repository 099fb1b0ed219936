"""Dedup + similarity operator goldens on crafted micro-data."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from bootleg_spark.operators import dedup, similarity


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def test_dedup_exact(spark):
    d = _docs(spark, ["a b c", "a b c", "x y z"])
    rows = {r["content_hash"]: r for r in dedup.dedup_exact(d).collect()}
    assert len(rows) == 2
    dup = [r for r in rows.values() if r["dup_count"] == 2][0]
    assert dup["keep_id"] == 0


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = base.replace("dog", "cat")
    far = "completely different words in this sentence about spark plans"
    d = _docs(spark, [base, near, far])
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(d).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_jaccard_golden(spark):
    d = _docs(spark, ["a b c d", "a b c e", "p q r s"])
    # 3-shingles: doc0 {abc, bcd}, doc1 {abc, bce} → inter 1, union 3
    rows = dedup.ngram_jaccard_pairs(d, threshold=0.1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"], r["n_inter"]) == (0, 1, 1)
    assert abs(r["jaccard"] - 1 / 3) < 1e-6


def test_simhash_identical_docs_pair(spark):
    d = _docs(spark, ["spark join filter window", "spark join filter window", "zzz yyy xxx www"])
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash_signatures(d).collect()}
    assert sigs[0] == sigs[1] != sigs[2]
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_pairs(d).collect()}
    assert (0, 1) in pairs


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)], ["vec_id", "embedding"]
    )
    got = similarity.cosine_topk_bruteforce(df, n_queries=3, k=4).collect()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        expected = sorted(
            ((round(float(sims[q, j]), 6), j) for j in range(20) if j != q),
            key=lambda t: (-t[0], t[1]),
        )[:4]
        mine = sorted(
            [(r["cos_sim"], r["neighbor_id"]) for r in got if r["query_id"] == q],
            key=lambda t: (-t[0], t[1]),
        )
        assert [(round(s, 5), j) for s, j in mine] == [(round(s, 5), j) for s, j in expected]


def test_dup_clusters_chain_and_components(spark):
    """Pointer-jumping converges on a long chain (the O(diameter)
    killer for plain propagation) and keeps components separate."""
    from bootleg_spark.operators.dedup import dup_clusters

    chain = [(i, i + 1) for i in range(1, 30)]  # path 1-2-...-30
    other = [(100, 101), (101, 102), (100, 102)]  # triangle
    pairs = spark.createDataFrame(chain + other, "id_a long, id_b long")
    # each partition's contiguous run of the chain contracts to one star,
    # so the chain settles in round 2 (5 without the contraction)
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(pairs, max_iter=2).collect()}
    assert all(got[i] == 1 for i in range(1, 31))
    assert all(got[i] == 100 for i in (100, 101, 102))
    assert len(got) == 33
    with pytest.raises(ValueError, match="converge"):
        dup_clusters(pairs, max_iter=1)


def test_dup_clusters_chain_spread_over_partitions(spark):
    """A chain dealt round-robin over 6 partitions leaves each partition
    few adjacent edges, so the contraction settles little: the chain
    still takes 5 propagation rounds (as many as without the
    contraction, never more) and one round must still raise."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "id_a long, id_b long"
    ).repartition(6)
    got = {r["id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs, max_iter=5).collect()}
    assert got == {i: 1 for i in range(1, 31)}
    with pytest.raises(ValueError, match="converge"):
        dedup.dup_clusters(pairs, max_iter=1)


def test_connected_components_string_qids_order_like_spark(spark):
    """The per-partition contraction orders string ids in numpy; its
    roots must be Spark's ``min``: UTF-8 byte order, which is code point
    order (U+FF21 sorts before the astral U+1D538, the reverse of UTF-16
    order)."""
    from bootleg_spark.operators.graph import connected_components

    edges = [("Q9", "Q10"), ("Q10", "Zürich"), ("\U0001d538", "\uff21")]
    # one partition, so the contraction alone picks each component's root
    triples = spark.createDataFrame(edges, "subj_qid string, obj_qid string").coalesce(1)
    got = {r["qid"]: r["component"] for r in connected_components(triples).collect()}
    assert got == {
        "Q9": "Q10", "Q10": "Q10", "Zürich": "Q10", "\U0001d538": "\uff21", "\uff21": "\uff21",
    }


def test_local_roots_match_union_find():
    """The vectorized per-partition contraction emits exactly the star
    edges, both ways, of a plain union-find (smallest id as root) on
    random graphs split over several Arrow batches."""
    import pyarrow as pa

    rng = np.random.RandomState(5)
    for n_nodes, n_edges in ((1, 1), (40, 25), (300, 280), (300, 2000)):
        ids = rng.choice(10_000, n_nodes, replace=False)
        e = ids[rng.randint(0, n_nodes, (n_edges, 2))]
        parent = {int(v): int(v) for v in e.ravel()}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in e.tolist():
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        batches = [
            pa.RecordBatch.from_arrays([pa.array(c[:, 0]), pa.array(c[:, 1])], ["id_a", "id_b"])
            for c in np.array_split(e, 3)
        ]
        (out,) = dedup._local_roots(iter(batches))
        star = set(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))
        want = {(v, find(v)) for v in parent}
        assert star == want | {(r, v) for v, r in want}
    assert list(dedup._local_roots(iter([]))) == []


def test_dup_clusters_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.dup_clusters(pairs).collect() == []


def test_dup_clusters_raises_when_not_converged(spark):
    """One round cannot settle a 6-node chain: the labels it leaves
    would split the component, so the call must fail, not return them."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="converge"):
        dedup.dup_clusters(pairs, max_iter=1)


def test_dedup_keep_singletons_and_clusters(spark):
    """Keep-one-per-cluster: singletons keep themselves; within a
    near-dup cluster only the smallest id survives."""
    from bootleg_spark.operators.dedup import dedup_keep

    docs = spark.createDataFrame(
        [(i,) for i in range(6)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 4)], ["id_a", "id_b"]
    )
    got = {r["id"]: (r["cluster_id"], r["keep"]) for r in dedup_keep(docs, pairs).collect()}
    assert got == {
        0: (0, 1),  # singleton
        1: (1, 1),  # cluster {1,3,5} representative
        2: (2, 1),  # cluster {2,4} representative
        3: (1, 0),
        4: (2, 0),
        5: (1, 0),
    }


def test_dedup_keep_job_budget(spark):
    """dedup_keep over a small pair graph (a 9-node chain, a triangle and
    a pair) plus its collect stays within its Spark job budget: 3 jobs,
    the count it ran at when the ceiling was set (one changed-count
    action per min-label propagation round, 2 here after the
    per-partition contraction, then the collect)."""
    from tests.conftest import count_jobs

    edges = [(i, i + 1) for i in range(1, 9)] + [(20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    rows, n_jobs = count_jobs(spark, lambda: dedup.dedup_keep(docs, pairs).collect())
    assert sum(r["keep"] for r in rows) == 40 - 8 - 2 - 1
    assert n_jobs <= 3


def _emb_df(spark, n=60, d=8, seed=11):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, d).astype("float32")
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)], ["vec_id", "embedding"]
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _ivf_table(spark, tmp_path):
    """(vectors, table path, build snapshot) of a 4-cell IVF table."""
    df = _emb_df(spark)
    table = str(tmp_path / "vecs")
    return df, table, similarity.build_ivf_table(df, table, n_cells=4)


def test_ivf_full_probe_equals_bruteforce(spark):
    # n_probe = n_cells scans every cell: identical result set, scores,
    # ranks, and tie order as the exact path
    df = _emb_df(spark)
    exact = _rows(similarity.cosine_topk_bruteforce(df, n_queries=4, k=5))
    assert _rows(similarity.ivf_topk(df, n_queries=4, n_cells=4, n_probe=4)) == exact


def test_ivf_recall_improves_with_probes(spark):
    df = _emb_df(spark)
    exact = similarity.cosine_topk_bruteforce(df, n_queries=6, k=5).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}

    def recall(n_probe):
        got = similarity.ivf_topk(df, n_queries=6, n_cells=4, n_probe=n_probe).collect()
        hits = {(r["query_id"], r["neighbor_id"]) for r in got} & truth
        return len(hits) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1  # more probes never hurt
    assert r2 >= 0.5  # and reach useful recall on this fixture


def test_winnowing_guarantee_and_short_doc_fallback(spark):
    from bootleg_spark.operators import textstats

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w + n - 1 (w=4, n=3)
    docs = _docs(
        spark,
        [
            f"one two {shared} three four",
            f"nine eight seven {shared} six",
            "tiny doc here",  # 1 shingle < w -> whole-doc fallback window
        ],
    )
    fps = textstats.winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    # winnowing guarantee: a shared run of w+n-1 words yields a common fp
    assert by_doc[0] & by_doc[1]
    # short doc still fingerprints (global-min fallback), exactly one fp
    assert len(by_doc[2]) == 1


def test_ivf_table_layout_prunes_and_matches(spark, tmp_path):
    """The IVF index-as-table-layout: full probe reproduces the exact
    brute-force rows through the table; 1-probe opens a strict subset
    of data files (manifest stats pruning on the cell column) and only
    returns neighbors from probed cells."""
    from bootleg_spark.sources import snaptable as st

    df, table, snap = _ivf_table(spark, tmp_path)
    assert snap["ivf"]["n_cells"] == 4 and len(snap["ivf"]["centroids"]) <= 4
    n_files = len(snap["files"])
    assert n_files >= 2  # range partitioning really split the cells

    exact = _rows(similarity.cosine_topk_bruteforce(df, n_queries=4, k=5))
    assert _rows(similarity.ivf_table_topk(spark, table, n_queries=4, n_probe=4)) == exact

    # 1-probe: fewer files opened than the table holds
    one = similarity.ivf_table_topk(spark, table, n_queries=4, n_probe=1)
    rows = one.collect()
    assert len(rows) > 0
    # every neighbor's cell must be a probed cell for its query
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in st.read_table(spark, table).select("vec_id", "cell").collect()
    }
    # probe cells per query = the query vector's own cell at n_probe=1
    for r in rows:
        assert cell_of[r["neighbor_id"]] == cell_of[r["query_id"]]
    # pruning evidence: a single cell's file set is smaller than all
    some_cell = cell_of[0]
    _, pruned = st.plan_files(table, prune=("cell", "in", [some_cell]))
    assert len(pruned) < n_files


def test_ivf_table_topk_scores_probes_once(spark, tmp_path, monkeypatch):
    """The probe-scoring mapInPandas runs once, for the probe-cell
    collect — the frame build's only Spark job (the candidate read has a
    declared schema, so no inference job); the returned plan reads the
    checkpointed probes instead of scoring them again inside the join.
    The snapshot JSON is loaded once: both reads reuse the snapshot that
    holds the centroids."""
    from bootleg_spark.sources import snaptable as st
    from tests.conftest import count_jobs

    _, table, _ = _ivf_table(spark, tmp_path)
    real_load, loads = st.load_snapshot, []
    monkeypatch.setattr(st, "load_snapshot", lambda *a: loads.append(a) or real_load(*a))
    out, n_jobs = count_jobs(
        spark, lambda: similarity.ivf_table_topk(spark, table, n_queries=4, n_probe=1)
    )
    assert n_jobs <= 1 and len(loads) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert out.count() > 0


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_ivf_table_survives_deletes(spark, tmp_path, mode):
    """The centroids ride every later commit: after a merge-on-read or
    copy-on-write delete of one vector, the full probe equals the brute
    force over the remaining vectors. A plain overwrite drops them, and
    the read then names the table instead of failing on a missing key."""
    import re

    from bootleg_spark.sources import snaptable as st

    df, table, _ = _ivf_table(spark, tmp_path)
    if mode == "mor":
        st.delete_rows_mor(spark, table, spark.createDataFrame([(2,)], "vec_id long"))
    else:
        st.delete_rows(spark, table, "vec_id = 2")
    exact = _rows(similarity.cosine_topk_bruteforce(df.where("vec_id != 2"), n_queries=4, k=5))
    assert _rows(similarity.ivf_table_topk(spark, table, n_queries=4, n_probe=4)) == exact

    st.write_table(df, table)
    with pytest.raises(ValueError, match=re.escape(table)):
        similarity.ivf_table_topk(spark, table, n_queries=4, n_probe=4)


def test_ivf_table_topk_no_queries_returns_empty(spark, tmp_path):
    """ADVICE r05 low: with no row satisfying id < n_queries the probe
    set is empty and every file is pruned — an empty typed frame comes
    back, not an error."""
    _, table, _ = _ivf_table(spark, tmp_path)
    out = similarity.ivf_table_topk(spark, table, n_queries=0, n_probe=1)
    assert out.columns == ["query_id", "neighbor_id", "rank", "cos_sim"]
    assert out.count() == 0
