"""Graph-consumer ops (operators/graph.py): k-hop BFS + degrees."""

from __future__ import annotations

import pytest

from bootleg_spark.operators.graph import degree_stats, khop_neighborhood

# a -> b -> c -> a  (cycle), b -> d, e isolated-ish (d -> e), f unreachable
EDGES = [
    ("a", "r", "b"),
    ("b", "r", "c"),
    ("c", "r", "a"),
    ("b", "r", "d"),
    ("d", "r", "e"),
    ("f", "r", "a"),
]


@pytest.fixture()
def kg(spark):
    return spark.createDataFrame(EDGES, "subj_qid string, rel string, obj_qid string")


def _hops(df):
    return {r["qid"]: r["hop"] for r in df.collect()}


def test_khop_min_distance_with_cycle(spark, kg):
    seeds = spark.createDataFrame([("a",)], "qid string")
    assert _hops(khop_neighborhood(kg, seeds, k=0)) == {"a": 0}
    assert _hops(khop_neighborhood(kg, seeds, k=1)) == {"a": 0, "b": 1}
    # the cycle must NOT relabel a at hop 3; d arrives at 2 not via
    # longer walks; f is never reached (edges are directed)
    got = _hops(khop_neighborhood(kg, seeds, k=4))
    assert got == {"a": 0, "b": 1, "c": 2, "d": 2, "e": 3}
    # multi-seed: min over seeds
    seeds2 = spark.createDataFrame([("a",), ("d",)], "qid string")
    got2 = _hops(khop_neighborhood(kg, seeds2, k=2))
    assert got2 == {"a": 0, "d": 0, "b": 1, "e": 1, "c": 2}
    with pytest.raises(ValueError):
        khop_neighborhood(kg, seeds, k=-1)


def test_degree_stats(spark, kg):
    got = {
        r["qid"]: (r["out_deg"], r["in_deg"], r["total_deg"])
        for r in degree_stats(kg).collect()
    }
    assert got == {
        "a": (1, 2, 3),
        "b": (2, 1, 3),
        "c": (1, 1, 2),
        "d": (1, 1, 2),
        "e": (0, 1, 1),
        "f": (1, 0, 1),
    }


def test_pagerank_matches_numpy_model(spark):
    """Fixed-iteration PageRank vs an independent dense numpy power
    iteration on a small graph (same variant: no dangling
    redistribution, rank0 = 1/N), within its Spark job budget: 2 jobs,
    the count it ran at when the ceiling was set (the node count, then
    the collect, which runs all 10 lazily checkpointed rounds)."""
    import numpy as np
    from bootleg_spark.operators.graph import pagerank
    from tests.conftest import count_jobs

    edges = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("D", "A")]
    tri = spark.createDataFrame(
        [(s, "rel", o) for s, o in edges], "subj_qid string, pred string, obj_qid string"
    )
    rows, n_jobs = count_jobs(spark, lambda: pagerank(tri).collect())
    assert n_jobs <= 2
    got = {r["qid"]: r["rank"] for r in rows}

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    N = len(nodes)
    outdeg = np.zeros(N)
    for s, _ in edges:
        outdeg[idx[s]] += 1
    r = np.full(N, 1.0 / N)
    d = 0.85
    for _ in range(10):
        nxt = np.full(N, (1.0 - d) / N)
        for s, o in edges:
            nxt[idx[o]] += d * r[idx[s]] / outdeg[idx[s]]
        r = nxt
    for n in nodes:
        assert abs(got[n] - round(r[idx[n]], 6)) <= 1e-6, (n, got[n], r[idx[n]])
    # importance ordering is the intuitive one: A and C dominate
    assert got["A"] > got["B"] and got["C"] > got["B"] > got["D"]


def test_connected_components_weak(spark):
    """Weak components ignore direction; singleton self-loop nodes are
    their own component; component = min reachable qid."""
    from bootleg_spark.operators.graph import connected_components

    tri = spark.createDataFrame(
        [
            ("B", "r", "A"),   # component A (undirected reach)
            ("C", "r", "B"),
            ("X", "r", "Y"),   # component X
            ("Z", "r", "Z"),   # self-loop singleton
        ],
        "subj_qid string, pred string, obj_qid string",
    )
    got = {r["qid"]: r["component"] for r in connected_components(tri).collect()}
    assert got == {"A": "A", "B": "A", "C": "A", "X": "X", "Y": "X", "Z": "Z"}


def test_triangle_counts_known_graph(spark):
    """Hand graph: K4 on {a,b,c,d} (4 triangles, each node in 3) plus a
    pendant edge and a disconnected triangle {x,y,z}. Direction,
    self-loops, and parallel/reciprocal edges must not matter."""
    from bootleg_spark.operators.graph import triangle_counts

    edges = [
        # K4, mixed directions, one duplicate + one reciprocal + self-loop
        ("a", "r", "b"), ("b", "r", "a"), ("a", "r", "c"), ("a", "r", "d"),
        ("b", "r", "c"), ("c", "r", "d"), ("b", "r", "d"), ("b", "s", "d"),
        ("a", "r", "a"),
        # pendant (in no triangle)
        ("d", "r", "p"),
        # separate triangle
        ("x", "r", "y"), ("y", "r", "z"), ("z", "r", "x"),
    ]
    kg = spark.createDataFrame(edges, "subj_qid string, rel string, obj_qid string")
    got = {r["qid"]: r["triangles"] for r in triangle_counts(kg).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "x": 1, "y": 1, "z": 1}


def test_triangle_counts_vs_bruteforce_random(spark):
    """Differential: oriented-wedge counts equal the O(n^3) brute force
    on a random graph (fixed seed)."""
    import itertools
    import random

    from bootleg_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(24)]
    edges = [
        (rng.choice(nodes), "r", rng.choice(nodes)) for _ in range(140)
    ]
    kg = spark.createDataFrame(edges, "subj_qid string, rel string, obj_qid string")
    und = {frozenset((s, o)) for s, _, o in edges if s != o}
    expect: dict[str, int] = {}
    for t in itertools.combinations(nodes, 3):
        a, b, c = t
        if (
            frozenset((a, b)) in und
            and frozenset((b, c)) in und
            and frozenset((a, c)) in und
        ):
            for v in t:
                expect[v] = expect.get(v, 0) + 1
    got = {r["qid"]: r["triangles"] for r in triangle_counts(kg).collect()}
    assert got == expect


def test_path_motifs_counts(spark):
    """2-hop typed-path census: s->m->o paths with s != o, grouped by
    predicate pair; cycles back to the start (s == o) are excluded."""
    from bootleg_spark.operators.graph import path_motifs

    edges = [
        ("a", "p", "m"), ("m", "q", "b"), ("m", "q", "c"),  # 2 p.q paths
        ("b", "p", "a"),                                    # q.p via b->a: m-q->b-p->a (m!=a ok)
        ("a", "p", "a"),                                    # self-loop: a-p->a-p->a excluded (s==o); a-p->a-p->m? uses loop then a->m
    ]
    kg = spark.createDataFrame(edges, "subj_qid string, rel string, obj_qid string")
    got = {
        (r["pred1"], r["pred2"]): r["n_paths"]
        for r in path_motifs(kg).collect()
    }
    # enumerate by hand over the directed edge list
    import itertools

    expect: dict[tuple[str, str], int] = {}
    for (s1, p1, o1), (s2, p2, o2) in itertools.product(edges, repeat=2):
        if o1 == s2 and s1 != o2:
            k = (p1, p2)
            expect[k] = expect.get(k, 0) + 1
    assert got == expect


def test_negative_samples_match_python_model(spark):
    """Filtered TransE corruption, pinned against an independent
    hashlib re-implementation of the md5 coin + draw on a small KG:
    exact multiset equality, every survivor absent from the positives,
    and rerun determinism."""
    import hashlib

    from bootleg_spark.operators.graph import negative_samples

    edges = [
        ("Q1", "r1", "Q2"), ("Q1", "r2", "Q3"), ("Q2", "r1", "Q3"),
        ("Q3", "r1", "Q4"), ("Q4", "r2", "Q1"), ("Q2", "r2", "Q5"),
        ("Q1", "r1", "Q2"),  # duplicate positive: must collapse
    ]
    kg = spark.createDataFrame(edges, "subj_qid string, rel string, obj_qid string")
    ents = spark.createDataFrame(
        [(q,) for q in ["Q1", "Q2", "Q3", "Q4", "Q5", "Q9"]], "qid string"
    )
    k, seed = 4, 11
    got = sorted(
        tuple(r) for r in negative_samples(kg, ents, k=k, seed=seed).collect()
    )

    ent_sorted = sorted({"Q1", "Q2", "Q3", "Q4", "Q5", "Q9"})
    n = len(ent_sorted)
    pos = sorted(set(edges))

    def draw(tag, s, r, o, j):
        h = hashlib.md5(f"{seed}:{tag}:{s}:{r}:{o}:{j}".encode()).hexdigest()
        return int(h[:8], 16)

    expect = []
    for s, r, o in pos:
        for j in range(k):
            side = draw("side", s, r, o, j) % 2
            repl = ent_sorted[draw("ent", s, r, o, j) % n]
            ns, no = (repl, o) if side == 0 else (s, repl)
            if (ns, r, no) not in set(pos):
                expect.append((ns, r, no, j, "head" if side == 0 else "tail"))
    assert got == sorted(expect)
    assert all((s, r, o) not in set(pos) for s, r, o, _, _ in got)
    again = sorted(
        tuple(r) for r in negative_samples(kg, ents, k=k, seed=seed).collect()
    )
    assert again == got


def test_relation_cardinality_classes(spark):
    """hpt/tph classification against hand-computed values, including a
    duplicate triple (must collapse) and each of the four classes."""
    from bootleg_spark.operators.graph import relation_cardinality

    edges = (
        # one2one: 2 triples, 2 heads, 2 tails
        [("a", "one2one", "x"), ("b", "one2one", "y"), ("a", "one2one", "x")]
        # one2n: 1 head fans to 3 tails -> tph 3, hpt 1
        + [("h", "one2n", t) for t in ("t1", "t2", "t3")]
        # n2one: 3 heads converge on 1 tail -> tph 1, hpt 3
        + [(h, "n2one", "sink") for h in ("h1", "h2", "h3")]
        # n2m: 2 heads x 2 tails full bipartite -> tph 2, hpt 2
        + [(h, "n2m", t) for h in ("p", "q") for t in ("u", "v")]
    )
    kg = spark.createDataFrame(edges, "subj_qid string, rel string, obj_qid string")
    got = {r["rel"]: r.asDict() for r in relation_cardinality(kg).collect()}
    assert got["one2one"]["cardinality"] == "1-1"
    assert got["one2one"]["n_triples"] == 2
    assert got["one2n"]["cardinality"] == "1-N"
    assert got["one2n"]["tph"] == 3.0 and got["one2n"]["hpt"] == 1.0
    assert got["n2one"]["cardinality"] == "N-1"
    assert got["n2one"]["p_head_corrupt"] == 0.25  # 1 tail / (3 heads + 1 tail)
    assert got["n2m"]["cardinality"] == "N-M"
    assert got["n2m"]["p_head_corrupt"] == 0.5


def test_link_predict_adamic_adar(spark):
    """AA scores pinned against brute-force enumeration on a small
    undirected graph (direction and duplicate edges collapse), existing
    edges excluded, degree cap drops hub-mediated wedges only."""
    import itertools
    import math

    from bootleg_spark.operators.graph import link_predict_scores

    edges = [
        ("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a"),  # triangle
        ("a", "r", "d"), ("b", "r", "d"),                   # d near a,b
        ("d", "r", "e"), ("e", "r", "a"),
        ("b", "r", "a"),                                    # reverse dup
    ]
    kg = spark.createDataFrame(edges, "subj_qid string, rel string, obj_qid string")

    und = {frozenset((s, o)) for s, _, o in edges if s != o}
    nodes = sorted({v for p in und for v in p})
    nbrs = {v: {u for p in und if v in p for u in p if u != v} for v in nodes}

    def brute(cap=None):
        out = {}
        for x, y in itertools.combinations(nodes, 2):
            if frozenset((x, y)) in und:
                continue
            common = [
                m
                for m in nbrs[x] & nbrs[y]
                if cap is None or len(nbrs[m]) <= cap
            ]
            if common:
                out[(x, y)] = (
                    len(common),
                    round(sum(1.0 / math.log(len(nbrs[m])) for m in common), 6),
                )
        return out

    got = {
        (r["qid_a"], r["qid_b"]): (r["common_neighbors"], r["aa_score"])
        for r in link_predict_scores(kg).collect()
    }
    assert got == brute()
    got_cap = {
        (r["qid_a"], r["qid_b"]): (r["common_neighbors"], r["aa_score"])
        for r in link_predict_scores(kg, max_degree=3).collect()
    }
    assert got_cap == brute(cap=3)


def test_transductive_split_contract(spark):
    """The split is deterministic, partitions the distinct triple set,
    matches an independent hashlib model of draw+demotion, and the
    final valid/test vocabulary is fully anchored in train."""
    import hashlib

    from bootleg_spark.operators.graph import transductive_split

    edges = [
        (f"Q{i}", f"r{i % 4}", f"Q{(i * 7) % 40}") for i in range(120)
    ] + [("Q1", "r1", "Q2")]  # duplicate must collapse
    kg = spark.createDataFrame(edges, "subj_qid string, rel string, obj_qid string")
    got = {
        (r["subj_qid"], r["rel"], r["obj_qid"]): r["split"]
        for r in transductive_split(kg).collect()
    }
    pos = sorted(set(edges))
    assert len(got) == len(pos)

    def draw(s, r, o):
        h = hashlib.md5(f"13:{s}:{r}:{o}".encode()).hexdigest()
        return int(h[:8], 16) / 2**32

    tent = {
        t: ("train" if draw(*t) < 0.8 else "valid" if draw(*t) < 0.9 else "test")
        for t in pos
    }
    tr_e = {x for t, sp in tent.items() if sp == "train" for x in (t[0], t[2])}
    tr_r = {t[1] for t, sp in tent.items() if sp == "train"}
    expect = {
        t: (
            sp
            if sp == "train"
            or (t[0] in tr_e and t[2] in tr_e and t[1] in tr_r)
            else "train"
        )
        for t, sp in tent.items()
    }
    assert got == expect
    # contract: final valid/test vocab anchored in FINAL train vocab
    f_tr_e = {x for t, sp in got.items() if sp == "train" for x in (t[0], t[2])}
    f_tr_r = {t[1] for t, sp in got.items() if sp == "train"}
    for (s, r, o), sp in got.items():
        if sp != "train":
            assert s in f_tr_e and o in f_tr_e and r in f_tr_r
    assert {"train", "valid", "test"} >= set(got.values())
    assert len({sp for sp in got.values()}) >= 2


def test_ranking_eval_popularity_vs_bruteforce(spark):
    """Filtered MRR/Hits@k of the frequency baseline pinned against the
    textbook |test| x |V| enumeration on a small KG."""
    from bootleg_spark.operators.graph import ranking_eval_popularity

    edges = [
        ("A", "r1", "B"), ("A", "r1", "C"), ("B", "r1", "C"),
        ("C", "r2", "A"), ("D", "r2", "A"), ("D", "r1", "A"),
        ("E", "r2", "B"), ("A", "r2", "E"), ("B", "r2", "D"),
    ]
    kg = spark.createDataFrame(edges, "subj_qid string, rel string, obj_qid string")
    test_triples = [("A", "r1", "C"), ("D", "r2", "A"), ("B", "r2", "D")]
    splits = spark.createDataFrame(
        [(s, r, o, "test" if (s, r, o) in test_triples else "train") for s, r, o in edges],
        "subj_qid string, rel string, obj_qid string, split string",
    )

    pos = set(edges)
    ents = sorted({x for s, _, o in edges for x in (s, o)})
    freq = {e: sum(e in (s, o) for s, _, o in edges) for e in ents}
    order = sorted(ents, key=lambda e: (-freq[e], e))  # best first

    def brute_rank(anchor, rel, true, side):
        # candidates better than `true`, skipping known positives
        better = 0
        for cand in order:
            if cand == true:
                break
            known = (
                (anchor, rel, cand) in pos if side == "tail" else (cand, rel, anchor) in pos
            )
            if not known:
                better += 1
        return better + 1

    ranks = {}
    for s, r, o in test_triples:
        ranks.setdefault((r, "tail"), []).append(brute_rank(s, r, o, "tail"))
        ranks.setdefault((r, "head"), []).append(brute_rank(o, r, s, "head"))
    expect = {
        k: (
            len(v),
            round(sum(1.0 / x for x in v) / len(v), 6),
            round(sum(x <= 1 for x in v) / len(v), 6),
            round(sum(x <= 3 for x in v) / len(v), 6),
            round(sum(x <= 10 for x in v) / len(v), 6),
        )
        for k, v in ranks.items()
    }
    got = {
        (r["rel"], r["side"]): (r["n_test"], r["mrr"], r["hits_1"], r["hits_3"], r["hits_10"])
        for r in ranking_eval_popularity(kg, splits).collect()
    }
    assert got == expect
