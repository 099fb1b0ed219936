"""Streaming ingest: incremental triples == batch triples, exactly once."""

import pyspark.sql.functions as F


def test_session_windows_streaming_with_watermark(spark, tmp_path):
    """sessionize_windows runs as a Structured Streaming query: session
    state closes via the watermark, and an event arriving later than
    watermark + gap is dropped instead of reopening the session."""
    import datetime as dt

    from bootleg_spark.operators.sessions import sessionize_windows

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(*specs):
        return [(u, i, base + dt.timedelta(seconds=s), float(v)) for i, (u, s, v) in enumerate(specs)]

    cols = ["user_id", "event_id", "ts", "value"]
    # batch 1: user 1 session A (0s, 60s); a later anchor event advances
    # the watermark far past session A. coalesce(1): each batch dir must
    # be ONE file — with maxFilesPerTrigger=1, multiple part files would
    # split a logical batch and the anchor row could process first,
    # advancing the watermark over user 1's rows (flaky drops)
    spark.createDataFrame(
        rows((1, 0, 1.0), (1, 60, 2.0), (2, 40000, 1.0)), cols
    ).coalesce(1).write.parquet(src + "/b1")

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = (
            sessionize_windows(stream, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # fail loudly on timeout instead of reading a partial sink
        assert q.awaitTermination(300), "streaming query did not finish in 300s"

    run_once()
    # batch 2: a LATE event for user 1 (t=120s, far behind the watermark
    # set by user 2's t=40000s event) must be dropped
    spark.createDataFrame(rows((1, 120, 100.0)), cols).coalesce(1).write.parquet(src + "/b2")
    # plus a fresh event to trigger window emission for user 2
    spark.createDataFrame(rows((2, 90000, 5.0)), cols).coalesce(1).write.parquet(src + "/b3")
    run_once()

    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    # user 1's session has exactly the 2 on-time events; the late 100.0
    # never appears anywhere
    assert (1, 2, 3.0) in got
    assert not any(abs(tv - 100.0) < 1e-9 or tv > 99 for _, _, tv in got)


def test_linked_pipeline_runs_as_streaming_query(spark, pipe, tmp_path):
    """The fused KG linking plan (①–④, one stateless mapInPandas) must
    run unchanged under Structured Streaming: pages stream in as
    parquet files, linked mentions stream out, and the result matches
    the batch run row-for-row. This is the north-star ingest shape —
    a crawl feed linking continuously into the graph store."""
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "linked_out")
    ckpt = str(tmp_path / "ckpt")
    pages = pipe.pages()
    pages.write.mode("overwrite").parquet(src)
    stream_pages = spark.readStream.schema(pages.schema).parquet(src)
    q = (
        pipe.linked_fused(stream_pages)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["url"], r["mention_pos"], r["alias"], r["qid_pred"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["url"], r["mention_pos"], r["alias"], r["qid_pred"])
        for r in pipe.linked_fused(spark.read.parquet(src)).collect()
    }
    assert got == want and len(got) > 0


def test_snapshot_stream_exactly_once(spark, pipe, tmp_path):
    """Streaming inserts into the snapshot graph table: two crawl
    arrivals, each processed by its own stream run, leave exactly the
    rows of ``pipe.triples`` over all pages — a triple both arrivals
    produce lands once. A restart with no new input commits nothing,
    and a replayed batch_id (crash between commit and checkpoint) is
    detected by the batch-id watermark and skipped."""
    from bootleg_spark.plans.pipeline import insert_new_triples
    from bootleg_spark.sources import snaptable as st
    from bootleg_spark.streaming.ingest import start_snapshot_triple_stream

    pages = pipe.pages()
    src = str(tmp_path / "src")
    table = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = start_snapshot_triple_stream(pipe, src + "/*", table, ckpt)
        assert q.awaitTermination(300), "streaming query did not finish in 300s"

    def rows(df):
        return sorted(tuple(r) for r in df.select("subj", "pred", "obj").collect())

    # the second arrival re-crawls every page, so each triple of the
    # first arrives again: a writer without the anti-join lands it twice
    pages.where(F.col("doc_id") % 2 == 0).write.parquet(src + "/part1")
    run_stream()
    first = rows(st.read_table(spark, table))
    pages.write.parquet(src + "/part2")
    run_stream()
    got = rows(st.read_table(spark, table))
    assert len(set(got)) == len(got)
    assert got == rows(pipe.triples(pages)) and 0 < len(first) < len(got)
    v_after = st.latest_version(table)
    last_batch = st.load_snapshot(table)["stream_batch_id"]

    # restart with the same checkpoint: no new input → no new versions
    run_stream()
    assert st.latest_version(table) == v_after

    # simulated replay of an already-committed batch → no-op, no version
    recrawl = pipe.triples(pages)
    assert insert_new_triples(recrawl, table, last_batch) is None
    assert st.latest_version(table) == v_after
    # ...while a genuinely NEW batch commits the next version, adding
    # none of the triples already in the graph
    s = insert_new_triples(recrawl, table, last_batch + 1)
    assert s is not None and s["version"] == v_after + 1 and s["new_rows"] == 0
    assert rows(st.read_table(spark, table)) == got
