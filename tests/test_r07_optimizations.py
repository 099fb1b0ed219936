"""Focused pins for the round-7 optimization rewrites: each test locks
an optimized internal to its round-6 reference formulation (the oracle
gate already pins end-to-end outputs; these pin the pieces)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bootleg_spark.operators import dedup
from bootleg_spark.session import fan_scan
from bootleg_spark.sources.synth import build_dims, read_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_documents(spark, SF)


def test_fan_scan_widens_small_scans_only(spark):
    raw = spark.read.parquet(f"{SF}/documents.parquet")
    fanned = fan_scan(raw, key_cols=("doc_id",))
    assert fanned.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    # already-wide input: no-op (the production-scale guard)
    wide = raw.repartition(64)
    assert fan_scan(wide, key_cols=("doc_id",)) is wide
    # row set unchanged
    assert sorted(r["doc_id"] for r in fanned.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in raw.select("doc_id").collect()
    )


def test_fan_scan_limit_is_projection_independent(docs):
    """Regression for the r07 keyless-repartition bug: round-robin
    repartition sorts rows by their BINARY form first, so two plans
    projecting different columns saw different row orders and a
    limit(n) above the fan sampled different rows per plan. Hash-by-id
    must make limit deterministic across projections."""
    a = [r["doc_id"] for r in docs.limit(7).select("doc_id").collect()]
    b = [r["doc_id"] for r in docs.limit(7).select("doc_id", "text", "lang").collect()]
    assert a == b


def test_rewritten_documents_invalidate_cached_scan_and_dims(spark, tmp_path):
    """A documents.parquet rewritten in the same session is re-read:
    the cached scan and the dims built from it follow the new rows."""
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/documents.parquet"

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, text string, lang string").write.mode(
            "overwrite"
        ).parquet(path)

    def aliases():
        return {r["alias"] for r in build_dims(spark, sf_dir)["aliases"].collect()}

    write([(1, "alpha bravo", "en"), (2, "charlie", "en")])
    assert {r["doc_id"] for r in read_documents(spark, sf_dir).collect()} == {1, 2}
    assert aliases() == {"alpha", "bravo", "charlie"}
    write([(7, "delta echo", "en"), (8, "foxtrot", "en"), (9, "golf", "en")])
    assert {r["doc_id"] for r in read_documents(spark, sf_dir).collect()} == {7, 8, 9}
    assert aliases() == {"delta", "echo", "foxtrot", "golf"}


def test_rewritten_documents_rebuild_entry_pipeline(spark, tmp_path):
    """The driver contract's cached KgPipeline follows a rewritten
    documents.parquet: its alias-set broadcast is rebuilt, not the one
    built from the old rows."""
    import __spark_entry__ as entrymod

    sf_dir = str(tmp_path)

    def write(text):
        spark.createDataFrame([(1, text, "en")], "doc_id long, text string, lang string").write.mode(
            "overwrite"
        ).parquet(f"{sf_dir}/documents.parquet")

    write("alpha bravo")
    assert entrymod._pipe(spark, sf_dir).alias_set_bc.value == {"alpha", "bravo"}
    write("delta echo")
    assert entrymod._pipe(spark, sf_dir).alias_set_bc.value == {"delta", "echo"}


def test_events_and_embeddings_scans_are_cached(spark, tmp_path):
    """The driver contract's events and embeddings scans come from the
    same mtime-stamped cache as the documents scan: a second call
    returns the cached frame (no second partition probe), and an
    events.parquet rewritten in the same session is re-read while the
    untouched embeddings entry stays."""
    import shutil

    import __spark_entry__ as entrymod

    sf_dir = str(tmp_path)
    for name in ("events.parquet", "embeddings.parquet"):
        shutil.copyfile(f"{SF}/{name}", f"{sf_dir}/{name}")
    ev, emb = entrymod._events(spark, sf_dir), entrymod._emb(spark, sf_dir)
    assert entrymod._events(spark, sf_dir) is ev
    assert entrymod._emb(spark, sf_dir) is emb
    rows = ev.orderBy("event_id").limit(3).collect()
    spark.createDataFrame(rows, ev.schema).write.mode("overwrite").parquet(
        f"{sf_dir}/events.parquet"
    )
    fresh = entrymod._events(spark, sf_dir)
    assert fresh is not ev
    assert sorted(r["event_id"] for r in fresh.collect()) == [r["event_id"] for r in rows]
    assert entrymod._emb(spark, sf_dir) is emb


def test_doc_shingle_arrays_match_word_shingles(docs):
    """explode(doc_shingle_arrays) ≡ a plain-Python shingler: the
    distinct non-empty space-joined word n-grams of ``text.split(" ")``
    per doc, row-for-row."""
    rows = docs.select("doc_id", "text").collect()
    for n in (1, 2, 3, 5):
        want = set()
        for r in rows:
            words = r["text"].split(" ")
            want |= {
                (r["doc_id"], g)
                for g in (" ".join(words[i : i + n]) for i in range(len(words) - n + 1))
                if g
            }
        got = {
            (r["id"], r["shingle"])
            for r in dedup.doc_shingle_arrays(docs, n=n)
            .select("id", F.explode("dsh").alias("shingle"))
            .collect()
        }
        assert got == want, f"shingle mismatch at n={n}"


def test_bucket_pairs_match_self_join(docs):
    """_bucket_pairs (groupBy-collect pair generation) ≡ the r06 bucket
    self-join, on the real band-minima buckets."""
    buckets = dedup.minhash_band_buckets(docs)
    a = buckets.select(F.col("id").alias("id_a"), "band", "min_hash")
    b = buckets.select(F.col("id").alias("id_b"), "band", "min_hash")
    joined = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, ["band", "min_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    grouped = {
        (r["id_a"], r["id_b"]) for r in dedup._bucket_pairs(buckets).collect()
    }
    assert grouped == joined


def test_featurize_texts_batch_scatter_bit_identical(docs):
    """The np.add.at batch featurizer must be BIT-identical to the
    per-text reference form (±1 integer accumulations are exact in
    float64, so no summation-order drift is tolerated)."""
    from bootleg_spark.functions.embedding import featurize_texts, featurize_tokens

    texts = [r["text"] for r in docs.select("text").collect()][:200]
    texts += ["", "   ", "one", None and "" or "a b a b"]
    dim = 32
    got = featurize_texts(texts, dim)
    ref = np.zeros((len(texts), dim), dtype=np.float64)
    for i, t in enumerate(texts):
        if t:
            ref[i] = featurize_tokens(t.split(), dim)
    assert np.array_equal(got, ref)
