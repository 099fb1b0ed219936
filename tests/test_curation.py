"""Cross-document curation ops (operators/curation.py): per-domain
caps, per-language quality percentile cut, TF-IDF keywords."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bootleg_spark.operators.curation import (
    cap_per_domain,
    quality_percentile_filter,
    registered_domain_expr,
    tfidf_top_terms,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_registered_domain_rule(spark):
    cases = [
        ("https://www.site1.example.org/p/1", "example.org"),
        # two-label FALLBACK: without a public-suffix list, co.uk reads
        # as the registered domain (documented approximation)
        ("http://shop.example.co.uk:80/x?y=1", "co.uk"),
        ("https://EXAMPLE.ORG/", "example.org"),
        ("https://localhost/x", "localhost"),  # single label: host itself
        ("https://www.a.b.c.d/e#f", "c.d"),
    ]
    df = _df(spark, [(i, u) for i, (u, _) in enumerate(cases)], "id long, url string")
    got = {
        r["id"]: r["d"]
        for r in df.select("id", registered_domain_expr().alias("d")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


def test_cap_per_domain_keeps_best(spark):
    # domain A: 4 docs, cap 2 → the two highest-quality survive;
    # domain B: 1 doc → untouched; quality tie inside A breaks by id
    rows = [
        (1, "https://a.org/1", 0.9),
        (2, "https://a.org/2", 0.5),
        (3, "https://www.a.org/3", 0.9),  # same domain as 1/2 via www-strip
        (4, "https://a.org/4", 0.1),
        (5, "https://b.org/5", 0.2),
    ]
    df = _df(spark, rows, "doc_id long, url string, quality double")
    out = {
        r["id"]: (r["domain"], r["domain_rank"])
        for r in cap_per_domain(df, 2, quality_col="quality").collect()
    }
    assert set(out) == {1, 3, 5}
    assert out[1] == ("a.org", 1)  # 0.9 tie with id 3 → lower id first
    assert out[3] == ("a.org", 2)
    assert out[5] == ("b.org", 1)
    # no-quality variant ranks by id
    out2 = {
        r["id"]: r["domain_rank"] for r in cap_per_domain(df, 2).collect()
    }
    assert set(out2) == {1, 2, 5}


def test_quality_percentile_is_per_stratum(spark):
    # two languages with different quality distributions; keep_frac=0.5
    # must cut each on its own scale
    texts_good = "the quick brown fox jumps over the lazy dog again and again"
    texts_bad = "x" * 200  # one giant word → quality 0
    rows = []
    for i in range(4):
        rows.append((i, "en", texts_good if i < 2 else texts_bad))
    for i in range(4, 8):
        rows.append((i, "de", texts_good if i == 4 else texts_bad))
    df = _df(spark, rows, "doc_id long, lang string, text string")
    out = quality_percentile_filter(df, 0.5).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r["stratum"], []).append(r)
    # every kept row's pr ≤ 0.5, both strata represented, and within a
    # stratum kept qualities dominate dropped ones
    for s, rs in by_stratum.items():
        assert all(r["pr"] <= 0.5 for r in rs)
    assert set(by_stratum) == {"en", "de"}
    with pytest.raises(ValueError):
        quality_percentile_filter(df, 0.0)


def test_tfidf_matches_manual(spark):
    docs = [
        (1, "apple banana apple cherry"),
        (2, "banana cherry cherry"),
        (3, "durian"),
    ]
    df = _df(spark, docs, "doc_id long, text string")
    out = tfidf_top_terms(df, k=2).collect()
    # manual recomputation
    from collections import Counter

    n = 3
    tfs = {i: Counter(t.split()) for i, t in docs}
    dfs = Counter(term for c in tfs.values() for term in c)
    want = {}
    for i, c in tfs.items():
        scored = sorted(
            (
                (-tf * (math.log((n + 1) / (dfs[t] + 1)) + 1), t, tf)
                for t, tf in c.items()
            )
        )[:2]
        for rank, (neg, t, tf) in enumerate(scored, 1):
            want[(i, t)] = (tf, dfs[t], round(-neg, 6), rank)
    got = {(r["id"], r["term"]): (r["tf"], r["df"], r["score"], r["rank"]) for r in out}
    assert got == want
    # min_df prunes hapaxes
    out2 = tfidf_top_terms(df, k=5, min_df=2).collect()
    assert all(r["term"] in {"apple", "banana", "cherry"} for r in out2)
    assert all(r["df"] >= 2 for r in out2)


def test_cap_per_domain_salted_parity(spark):
    """The two-phase (salted) exact top-N returns ROW-IDENTICAL output
    to the one-window form — including ranks — on a skewed corpus
    where one domain dominates, with and without a quality column."""
    from bootleg_spark.operators.curation import cap_per_domain_salted

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, F.lit("https://hot.example.com/p"))
        .otherwise(
            F.concat(F.lit("https://cold"), (F.col("id") % 97).cast("string"),
                     F.lit(".org/p"))
        )
        .alias("url"),
        (F.pmod(F.col("id") * 37, F.lit(1000)).cast("double") / 1000).alias("q"),
    )
    for qcol in (None, "q"):
        base = sorted(
            tuple(r)
            for r in cap_per_domain(docs, 5, quality_col=qcol).collect()
        )
        for s in (2, 16):
            salted = sorted(
                tuple(r)
                for r in cap_per_domain_salted(
                    docs, 5, quality_col=qcol, salt=s
                ).collect()
            )
            assert salted == base
