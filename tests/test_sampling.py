"""Mixture sampling + sequence packing invariants (operators/sampling.py)."""

from pyspark.sql import functions as F

from bootleg_spark.operators.sampling import mix_corpus, pack_token_spans
from bootleg_spark.sources.synth import read_documents
from tests.conftest import SF_SMOKE


def test_mixture_weights_and_determinism(spark):
    docs = read_documents(spark, SF_SMOKE).select("doc_id", "lang")
    weights = {"en": 2.4, "de": 0.5, "zh": 1.0}
    out = mix_corpus(docs, weights, seed=7)
    rows = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in rows}
    assert set(got) == set(weights)  # fr/es dropped entirely
    for lang, w in weights.items():
        # realized rate within ±0.35 of the weight on the small corpus
        assert abs(got[lang] / base[lang] - w) < 0.35, (lang, got[lang], base[lang])
    # copies are indexed 0..k-1 per kept row
    en = out.where("lang = 'en'").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("_copy")).alias("cs"), F.count(F.lit(1)).alias("k")
    )
    assert en.where(F.col("cs") != F.sequence(F.lit(0), F.col("k") - 1)).count() == 0
    # deterministic: identical second run
    again = {tuple(r) for r in mix_corpus(docs, weights, seed=7).collect()}
    assert again == {tuple(r) for r in out.collect()}
    # different seed ⇒ different draw set for the fractional strata
    other = {tuple(r) for r in mix_corpus(docs, weights, seed=8).collect()}
    assert other != again


def test_pack_spans_cover_every_token_exactly_once(spark):
    docs = read_documents(spark, SF_SMOKE)
    budget = 128
    out = pack_token_spans(docs, budget=budget, n_buckets=8).collect()
    n_by_doc = {
        r["doc_id"]: len(r["text"].split(" "))
        for r in docs.select("doc_id", "text").collect()
        if len(r["text"].split(" ")) > 0
    }
    # per doc: sub-spans are disjoint, contiguous, and cover [0, n)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_by_doc)
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda r: r["doc_tok_start"])
        assert spans[0]["doc_tok_start"] == 0
        assert spans[-1]["doc_tok_end"] == n_by_doc[doc_id]
        for a, b in zip(spans, spans[1:]):
            assert a["doc_tok_end"] == b["doc_tok_start"]
            assert b["pack_id"] == a["pack_id"] + 1  # consecutive packs
    # per pack: spans tile [0, budget) exactly (except each bucket's last pack)
    by_pack = {}
    for r in out:
        by_pack.setdefault((r["bucket"], r["pack_id"]), []).append(r)
    last_pack = {}
    for (bucket, pid) in by_pack:
        last_pack[bucket] = max(last_pack.get(bucket, -1), pid)
    for (bucket, pid), spans in by_pack.items():
        spans.sort(key=lambda r: r["pack_tok_start"])
        assert spans[0]["pack_tok_start"] == 0
        total = sum(r["doc_tok_end"] - r["doc_tok_start"] for r in spans)
        pos = 0
        for r in spans:
            assert r["pack_tok_start"] == pos
            pos += r["doc_tok_end"] - r["doc_tok_start"]
        if pid < last_pack[bucket]:
            assert total == budget
        else:
            assert 0 < total <= budget


def test_pack_duplicate_ids(spark):
    """ADVICE r4 medium: mix_corpus output reuses doc_id across copies;
    under the SQL-default RANGE frame, tied doc_ids were window PEERS —
    every copy's cumsum included all copies' tokens, pack 0 vanished and
    identical spans were emitted twice. The fix (ROWS frame + tiebreak
    ordering) must tile every bucket's packs exactly [0, budget)."""
    docs = read_documents(spark, SF_SMOKE).select("doc_id", "lang", "text")
    mixed = mix_corpus(docs, {"en": 2.4, "de": 0.5, "zh": 1.0}, seed=7)
    # the mixture genuinely contains duplicated doc_ids
    assert mixed.groupBy("doc_id").count().where("count > 1").count() > 0
    budget = 128
    out = pack_token_spans(
        mixed, budget=budget, n_buckets=8, tiebreak_cols=("_copy",)
    ).collect()
    # output rows are unique per (doc_id, _copy, pack) — no doubled spans
    keys = [(r["doc_id"], r["_copy"], r["bucket"], r["pack_id"]) for r in out]
    assert len(keys) == len(set(keys))
    # per (doc, copy): sub-spans contiguous from 0
    by_copy = {}
    for r in out:
        by_copy.setdefault((r["doc_id"], r["_copy"]), []).append(r)
    for spans in by_copy.values():
        spans.sort(key=lambda r: r["doc_tok_start"])
        assert spans[0]["doc_tok_start"] == 0
        for a, b in zip(spans, spans[1:]):
            assert a["doc_tok_end"] == b["doc_tok_start"]
    # per bucket: pack ids start at 0 and every non-final pack tiles
    # [0, budget) exactly — the invariant the RANGE frame broke
    by_pack = {}
    for r in out:
        by_pack.setdefault((r["bucket"], r["pack_id"]), []).append(r)
    last_pack = {}
    for (bucket, pid) in by_pack:
        last_pack[bucket] = max(last_pack.get(bucket, -1), pid)
    for bucket in last_pack:
        assert (bucket, 0) in by_pack  # pack 0 exists again
    for (bucket, pid), spans in by_pack.items():
        spans.sort(key=lambda r: r["pack_tok_start"])
        pos = 0
        for r in spans:
            assert r["pack_tok_start"] == pos
            pos += r["doc_tok_end"] - r["doc_tok_start"]
        if pid < last_pack[bucket]:
            assert pos == budget
        else:
            assert 0 < pos <= budget
    # determinism: the (unique-keyed) layout is identical across runs
    again = pack_token_spans(
        mixed, budget=budget, n_buckets=8, tiebreak_cols=("_copy",)
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_oracle_dtype_lint_catches_hugeint(spark):
    """The r04 pack_spans failure class: DuckDB SUM() OVER promotes to
    HUGEINT → float64 at the driver canonicalizer. The lint must reject
    an uncast cumsum oracle and accept the CAST form."""
    import duckdb

    from scripts.check_correctness import lint_oracle_dtypes

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 10), (2, 20)) v(k, n)")
    sdf = spark.createDataFrame([(1, 10)], "k int, before bigint")
    bad = "SELECT k, SUM(n) OVER (ORDER BY k) - n AS before FROM t"
    msgs = lint_oracle_dtypes(con, bad, sdf)
    assert msgs and "HUGEINT" in msgs[0]
    good = "SELECT k, CAST(SUM(n) OVER (ORDER BY k) - n AS BIGINT) AS before FROM t"
    assert lint_oracle_dtypes(con, good, sdf) == []


def test_chunk_windows_cover_and_overlap(spark):
    from bootleg_spark.operators.sampling import chunk_token_windows

    docs = read_documents(spark, SF_SMOKE)
    size, stride = 32, 24
    out = chunk_token_windows(docs, size=size, stride=stride).collect()
    n_by_doc = {
        r["doc_id"]: len(r["text"].split(" "))
        for r in docs.select("doc_id", "text").collect()
        if r["text"]
    }
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    assert set(by_doc) == set(n_by_doc)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n = n_by_doc[doc_id]
        for i, c in enumerate(chunks):
            assert c["chunk_idx"] == i
            assert c["tok_start"] == i * stride
            assert c["tok_end"] == min(n, i * stride + size)
            assert len(c["chunk"].split(" ")) == c["tok_end"] - c["tok_start"]
        # every token position covered; consecutive windows overlap by
        # size - stride (until the tail)
        assert chunks[-1]["tok_end"] == n
        assert chunks[0]["tok_start"] == 0
        for a, b in zip(chunks, chunks[1:]):
            assert b["tok_start"] - a["tok_start"] == stride
            assert a["tok_end"] > b["tok_start"]  # genuine overlap


def test_sample_exact_k_deterministic_uniform(spark):
    """Exact-k hash sampling: correct per-stratum counts, matches an
    independent hashlib model, stable under reruns AND under appending
    rows that don't displace the chosen draws."""
    import hashlib

    from bootleg_spark.operators.sampling import sample_exact_k

    rows = [(i, "en" if i % 3 else "de") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {
        (r["lang"], r["doc_id"]): r["sample_rank"]
        for r in sample_exact_k(df, k=7).collect()
    }

    def draw(i):
        return int(hashlib.md5(f"101:{i}".encode()).hexdigest()[:8], 16) / 2**32

    expect = {}
    for lang in ("en", "de"):
        ids = sorted(
            (i for i, l in rows if l == lang), key=lambda i: (draw(i), i)
        )[:7]
        for r, i in enumerate(ids, 1):
            expect[(lang, i)] = r
    assert got == expect
    assert sorted(got) == sorted(expect)
    # append rows with large doc_ids; previously chosen ids keep their
    # membership unless a new draw lands inside the top k
    grown = spark.createDataFrame(
        rows + [(1000 + i, "de") for i in range(5)], "doc_id long, lang string"
    )
    got2 = {
        (r["lang"], r["doc_id"]): r["sample_rank"]
        for r in sample_exact_k(grown, k=7).collect()
    }
    new_de = sorted(
        (i for i, l in rows + [(1000 + j, "de") for j in range(5)] if l == "de"),
        key=lambda i: (draw(i), i),
    )[:7]
    assert {i for (l, i) in got2 if l == "de"} == set(new_de)
    assert {i for (l, i) in got2 if l == "en"} == {i for (l, i) in got if l == "en"}
