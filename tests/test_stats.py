"""Aggregation operator goldens (scorer.py / compute_statistics semantics)."""

from bootleg_spark.operators import stats


def test_slice_eval(spark):
    rows = [
        ("s1", "Q1", "Q1"),
        ("s1", "Q2", "Q3"),
        ("s2", "Q1", "Q1"),
        ("s2", "Q1", "Q1"),
    ]
    df = spark.createDataFrame(rows, ["slice_name", "qid_gold", "qid_pred"])
    out = {r["slice_name"]: r for r in stats.slice_eval(df).collect()}
    assert out["s1"]["total"] == 2 and out["s1"]["correct"] == 1
    assert abs(out["s1"]["accuracy"] - 0.5) < 1e-9
    assert out["s2"]["accuracy"] == 1.0


def test_recall_at_k(spark):
    rows = [
        ("Q1", ["Q1", "Q2", "Q3"]),
        ("Q2", ["Q1", "Q2", "Q3"]),
        ("Q9", ["Q1", "Q2", "Q3"]),  # gold not in candidates
    ]
    df = spark.createDataFrame(rows, ["qid_gold", "cand_qids"])
    out = {r["k"]: r["recall"] for r in stats.recall_at_k(df).collect()}
    assert abs(out[1] - 1 / 3) < 1e-6
    assert abs(out[2] - 2 / 3) < 1e-6
    assert abs(out[3] - 2 / 3) < 1e-6


def test_qid_count_buckets(spark):
    df = spark.createDataFrame(
        [("Q1",)] * 10 + [("Q2",)] * 5 + [("Q3",)], ["qid"]
    )
    counts = stats.qid_counts(df)
    out = {r["qid"]: r for r in stats.qid_count_buckets(counts, exact=True).collect()}
    assert out["Q3"]["bucket"] == 0  # minimum count → below no quantile
    assert out["Q1"]["bucket"] == 20  # maximum count → above all but the 1.0 quantile
    assert 0 < out["Q2"]["bucket"] < 20


def test_histograms(spark):
    m = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a")], ["doc_id", "alias"]
    )
    ac = {r["alias"]: r["cnt"] for r in stats.alias_counts(m).collect()}
    assert ac == {"a": 2, "b": 1}
    h = {r["n_mentions"]: r["n_docs"] for r in stats.mentions_per_doc_hist(m).collect()}
    assert h == {2: 1, 1: 1}


def test_qid_count_buckets_approx_monotone(spark):
    """Approx (default, scale path) buckets are monotone in cnt — the
    grid values differ from exact interpolation at tiny cardinality,
    but ordering semantics must hold."""
    df = spark.createDataFrame([("Q1",)] * 10 + [("Q2",)] * 5 + [("Q3",)], ["qid"])
    counts = stats.qid_counts(df)
    approx = {r["qid"]: r["bucket"] for r in stats.qid_count_buckets(counts).collect()}
    assert approx["Q3"] <= approx["Q2"] <= approx["Q1"]
    assert approx["Q3"] == 0


def test_alias_text_counts_multiword(spark):
    """2-gram alias matches count, and unfiltered stopword occurrences
    count too (no POS filter — compute_statistics.py:118-132)."""
    docs = spark.createDataFrame(
        [(1, "the big dog ran"), (2, "big dog Big  Dog!")], ["doc_id", "text"]
    )
    aliases = spark.createDataFrame([("big dog",), ("the",)], ["alias"])
    out = {r["alias_text"]: r["cnt"] for r in stats.alias_text_counts(docs, aliases).collect()}
    # "Big  Dog!" lnrm-normalizes to "big dog" too
    assert out == {"big dog": 3, "the": 1}


def test_alias_entity_pair_counts(spark):
    linked = spark.createDataFrame(
        [("a", "Q1"), ("a", "Q1"), ("a", "Q2"), ("b", "Q1")], ["alias", "qid"]
    )
    out = {r["pair"]: r["cnt"] for r in stats.alias_entity_pair_counts(linked).collect()}
    assert out == {"a|Q1": 2, "a|Q2": 1, "b|Q1": 1}


def test_profile_columns_nulls_and_cardinality(spark):
    from bootleg_spark.operators.stats import profile_columns

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, "b", None), (4, None, 7.5)],
        "id long, s string, v double",
    )
    got = {r["column"]: r for r in profile_columns(df).collect()}
    assert set(got) == {"id", "s", "v"}
    for r in got.values():
        assert r["n_rows"] == 4
    assert (got["id"]["n_nonnull"], got["id"]["n_distinct"]) == (4, 4)
    assert (got["s"]["n_nonnull"], got["s"]["n_distinct"]) == (3, 2)
    assert (got["v"]["n_nonnull"], got["v"]["n_distinct"]) == (2, 2)
    assert got["id"]["min_str"] == "1" and got["id"]["max_str"] == "4"
    assert got["s"]["min_str"] == "a" and got["s"]["max_str"] == "b"
    assert got["v"]["min_str"] == "5.0" and got["v"]["max_str"] == "7.5"
    # column subset
    sub = profile_columns(df, cols=["s"]).collect()
    assert len(sub) == 1 and sub[0]["column"] == "s"


def test_cooccurrence_pmi_hand_computed(spark):
    """PMI/NPMI pinned against a hand model, including the
    min_pair_count cut and the p(a,b)=1 corner (npmi := 1.0)."""
    import itertools
    import math

    from bootleg_spark.operators.triples import cooccurrence_pmi

    docs = {
        1: {"X", "Y", "Z"},
        2: {"X", "Y"},
        3: {"X", "Z"},
        4: {"X", "Y", "W"},
    }
    rows = [(d, q) for d, qs in docs.items() for q in qs]
    ents = spark.createDataFrame(rows, "doc_id long, qid string")
    n = len(docs)
    cnt = {q: sum(q in s for s in docs.values()) for s in [None] for q in {q for s2 in docs.values() for q in s2}}
    expect = {}
    for a, b in itertools.combinations(sorted(cnt), 2):
        np_ = sum(a in s and b in s for s in docs.values())
        if np_ < 2:
            continue
        pmi = math.log(np_ * n / (cnt[a] * cnt[b]))
        npmi = 1.0 if np_ == n else pmi / -math.log(np_ / n)
        expect[(a, b)] = (np_, cnt[a], cnt[b], round(pmi, 6), round(npmi, 6))
    got = {
        (r["qid_a"], r["qid_b"]): (r["n_pair"], r["n_a"], r["n_b"], r["pmi"], r["npmi"])
        for r in cooccurrence_pmi(ents).collect()
    }
    assert got == expect
    # X appears in every doc; a pair hitting n_pair == N pins npmi = 1.0
    ents2 = spark.createDataFrame(
        [(d, q) for d in (1, 2) for q in ("X", "Y")], "doc_id long, qid string"
    )
    got2 = cooccurrence_pmi(ents2).collect()
    assert len(got2) == 1 and got2[0]["npmi"] == 1.0
