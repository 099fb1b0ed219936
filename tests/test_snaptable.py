"""Snapshot-manifest table layer (sources/snaptable.py): snapshot
isolation, time travel, append, optimistic commit, stats-based file
skipping, vacuum."""

from __future__ import annotations

import contextlib
import json
import os

import pytest
from pyspark.sql import functions as F

from bootleg_spark.sources import snaptable as st


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def docs(spark):
    return spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).alias("grp"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
    )


def test_roundtrip_and_time_travel(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    s1 = st.write_table(docs, table)
    assert s1["version"] == 1 and s1["total_rows"] == 100
    assert _rows(st.read_table(spark, table)) == _rows(docs)

    en = docs.where("grp = 0")
    s2 = st.write_table(en, table, mode="overwrite")
    assert s2["version"] == 2 and s2["parent"] == 1
    # latest sees only the overwrite...
    assert _rows(st.read_table(spark, table)) == _rows(en)
    # ...and version 1 still reads in full (old files untouched)
    assert _rows(st.read_table(spark, table, version=1)) == _rows(docs)


def test_append_merges_files(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    st.write_table(docs.where("grp < 2"), table)
    s2 = st.write_table(docs.where("grp >= 2"), table, mode="append")
    assert s2["total_rows"] == 100
    assert _rows(st.read_table(spark, table)) == _rows(docs)
    # append refuses a different schema (no silent evolution)
    with pytest.raises(ValueError, match="schema"):
        st.write_table(docs.select("doc_id"), table, mode="append")


def test_optimistic_commit_conflict(spark, docs, tmp_path):
    """Two writers racing to the same version: the create-exclusive
    link gives one winner; the loser re-derives the version and lands
    on top (the retry path), and with retries exhausted raises."""
    table = str(tmp_path / "t")
    st.write_table(docs, table)
    # simulate a competitor owning every next version: pre-create v2..v5
    snap = st.load_snapshot(table, 1)
    for v in (2, 3, 4, 5):
        with open(st._snap_path(table, v), "w") as f:
            json.dump({**snap, "version": v, "parent": v - 1}, f)
    # a writer with retries left lands at v6 (re-derived base each try)
    s = st.write_table(docs.where("grp = 0"), table)
    assert s["version"] == 6
    # a writer that ALWAYS loses: occupy versions as fast as it derives
    with pytest.raises(st.CommitConflict):
        orig_link = os.link

        def thief(src, dst, *a, **k):
            # competitor wins every race: a valid snapshot always
            # already sits at the target version
            with open(dst, "w") as f:
                json.dump({**snap, "version": int(os.path.basename(dst)[1:-5])}, f)
            return orig_link(src, dst, *a, **k)

        os.link = thief
        try:
            st.write_table(docs, table)
        finally:
            os.link = orig_link


def test_stats_pruning_skips_files(spark, docs, tmp_path):
    """Files are skipped from the scan plan by footer min/max BEFORE
    Spark sees a path — and the pruned read still returns a superset
    of the true predicate result (Iceberg's contract)."""
    table = str(tmp_path / "t")
    # 10 files with disjoint doc_id ranges: repartitionByRange gives
    # each file a tight [min, max]
    st.write_table(docs.repartitionByRange(10, "doc_id"), table)
    snap, all_files = st.plan_files(table)
    assert len(all_files) == 10
    _, pruned = st.plan_files(table, prune=("doc_id", "between", (20, 29)))
    assert 1 <= len(pruned) <= 2  # one range file (maybe a boundary neighbor)
    got = (
        st.read_table(spark, table, prune=("doc_id", "between", (20, 29)))
        .where("doc_id between 20 and 29")
    )
    assert _rows(got) == _rows(docs.where("doc_id between 20 and 29"))
    # equality + string-column pruning
    _, eq = st.plan_files(table, prune=("doc_id", "=", 55))
    assert len(eq) == 1
    _, s_pruned = st.plan_files(table, prune=("text", "=", "text-7"))
    assert len(s_pruned) < 10
    # a column with no stats entry keeps everything (conservative)
    _, keep_all = st.plan_files(table, prune=("nonexistent_col", "=", 1))
    assert len(keep_all) == 10


def test_vacuum_expires_snapshots(spark, docs, tmp_path):
    table = str(tmp_path / "t")
    st.write_table(docs, table)                          # v1
    st.write_table(docs.where("grp = 0"), table)         # v2 (new files)
    st.write_table(docs.where("grp = 1"), table, mode="append")  # v3 = v2 files + new
    deleted = st.vacuum(table, keep_versions=2)          # drop v1
    assert deleted  # v1's files are unreferenced by v2/v3
    with pytest.raises(FileNotFoundError):
        st.load_snapshot(table, 1)
    # v2 and v3 still read correctly (v3 shares v2's files — NOT deleted)
    assert _rows(st.read_table(spark, table, version=2)) == _rows(docs.where("grp = 0"))
    assert _rows(st.read_table(spark, table, version=3)) == _rows(docs.where("grp <= 1"))
    # deleted files are really gone from disk
    for rel in deleted:
        assert not os.path.exists(os.path.join(table, rel))


def test_snapshot_triples_graph_table(spark, pipe, tmp_path):
    """The published graph-table shape: each pipeline run commits a
    version; subj-range data files make entity-centric reads open a
    strict subset of files; overwrite keeps the prior graph
    time-travelable."""
    from bootleg_spark.plans.pipeline import materialize_triples, snapshot_triples

    out, table = str(tmp_path / "kg_out"), str(tmp_path / "graph")
    materialize_triples(pipe, out, n_buckets=2)
    s1 = snapshot_triples(pipe, out, table, 2, n_files=4)
    assert s1["version"] == 1 and s1["total_rows"] > 0
    expected = _rows(pipe.triples())
    assert _rows(st.read_table(spark, table)) == expected

    # entity-centric read: prune by subj opens fewer files, same rows
    some_subj = expected[0][0]
    _, all_files = st.plan_files(table)
    _, pruned = st.plan_files(table, prune=("subj", "=", some_subj))
    assert len(all_files) == 4 and len(pruned) < len(all_files)
    got = (
        st.read_table(spark, table, prune=("subj", "=", some_subj))
        .where(F.col("subj") == some_subj)
    )
    assert _rows(got) == sorted(t for t in expected if t[0] == some_subj)

    # a second publication commits v2; v1 stays readable
    s2 = snapshot_triples(pipe, out, table, 2, n_files=4)
    assert s2["version"] == 2
    assert _rows(st.read_table(spark, table, version=1)) == expected


def test_compaction_binpacks_small_files(spark, docs, tmp_path):
    """Streaming-style appends leave many small files; compact() must
    merge them into ~target_rows files with identical row content, keep
    big files untouched, preserve pre-compaction time travel, and let
    vacuum reclaim the originals."""
    table = str(tmp_path / "t")
    # one big file + five 20-row appends (the small-files picture)
    st.write_table(docs.coalesce(1), table)                    # v1: 100 rows
    for g in range(5):
        st.write_table(docs.where(F.col("grp") == g).coalesce(1), table, mode="append")
    pre = st.load_snapshot(table)
    assert len(pre["files"]) == 6 and pre["total_rows"] == 200
    big = {f["path"] for f in pre["files"] if f["rows"] >= 50}

    s = st.compact(spark, table, target_rows=50)
    assert s is not None and s["mode"] == "compact"
    post = st.load_snapshot(table)
    # 5×20 small rows → ceil(100/50)=2 files; the big file untouched
    assert len(post["files"]) == 3
    assert big <= {f["path"] for f in post["files"]}
    assert post["total_rows"] == 200
    # identical rows (multiplicity included)
    assert _rows(st.read_table(spark, table)) == _rows(
        st.read_table(spark, table, version=pre["version"])
    )
    # nothing left to compact → no-op
    assert st.compact(spark, table, target_rows=50) is None
    # vacuum to the compacted snapshot reclaims the original smalls
    deleted = st.vacuum(table, keep_versions=1)
    assert set(deleted) >= set(s["compacted"])
    assert _rows(st.read_table(spark, table)) != [] and st.latest_version(table) == post["version"]


def test_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: a seeded random sequence of
    overwrite/append/compact/vacuum must keep every retained version's
    read equal to an in-memory model of the table history — the
    invariant that makes the layer trustworthy, not any single op."""
    import random

    base = spark.range(0, 400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10).alias("grp")
    ).cache()
    base.count()

    for seed in (11, 29):
        rng = random.Random(seed)
        table = str(tmp_path / f"t{seed}")
        model: dict[int, list] = {}  # version -> sorted rows
        latest_rows: list = []
        for _step in range(12):
            op = rng.choice(["overwrite", "append", "append", "compact", "vacuum"])
            lo = rng.randrange(0, 380)
            hi = lo + rng.randrange(1, 40)
            piece = base.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            piece_rows = sorted(tuple(r) for r in piece.collect())
            if op == "overwrite":
                s = st.write_table(piece.coalesce(rng.randrange(1, 4)), table)
                latest_rows = piece_rows
                model[s["version"]] = latest_rows
            elif op == "append":
                if not model:
                    continue
                s = st.write_table(piece.coalesce(1), table, mode="append")
                latest_rows = sorted(latest_rows + piece_rows)
                model[s["version"]] = latest_rows
            elif op == "compact":
                if not model:
                    continue
                s = st.compact(spark, table, target_rows=60)
                if s is not None:
                    model[s["version"]] = latest_rows  # rows unchanged
            else:  # vacuum
                if len(model) < 2:
                    continue
                keep = rng.randrange(1, len(model) + 1)
                st.vacuum(table, keep_versions=keep)
                for v in sorted(model)[:-keep]:
                    del model[v]
            # invariant: every retained version reads exactly its model
            for v, want in model.items():
                got = sorted(tuple(r) for r in st.read_table(spark, table, version=v).collect())
                assert got == want, (seed, _step, op, v, len(got), len(want))


def test_snapshot_carries_lineage_and_metrics(spark, pipe, tmp_path):
    """North-rule: lineage + throughput metrics live in the manifest.
    Every committed snapshot stamps write_seconds / new_rows /
    rows_per_sec, and snapshot_triples adds run provenance."""
    from bootleg_spark.plans.pipeline import materialize_triples, snapshot_triples
    from bootleg_spark.sources import store
    from tests.conftest import SF_SMOKE

    docs = spark.range(0, 50).select(
        F.col("id").alias("doc_id"), F.lit("x y").alias("text")
    )
    table = str(tmp_path / "t")
    s = st.write_table(docs, table)
    assert s["write_seconds"] > 0 and s["new_rows"] == 50
    assert s["rows_per_sec"] > 0

    out = str(tmp_path / "kg_out")
    materialize_triples(pipe, out, n_buckets=2)
    g = snapshot_triples(pipe, out, str(tmp_path / "graph"), 2)
    lin = g["lineage"]
    assert lin["sf_dir"] == SF_SMOKE
    assert lin["layout"] == store.layout_id(["doc_id"], 2)
    assert set(lin) == {"sf_dir", "layout"}  # nothing it did not apply
    # durably in the manifest, not just the returned dict
    reread = st.load_snapshot(str(tmp_path / "graph"))
    assert reread["lineage"] == lin and reread["write_seconds"] > 0


def test_compact_preserves_stream_watermark(spark, docs, tmp_path):
    """ADVICE r05 medium: a compaction between a stream commit and its
    checkpoint must not erase the batch-id watermark — a replayed
    micro-batch after the compaction must still be a no-op."""
    table = str(tmp_path / "t")
    small = docs.where("grp = 0").coalesce(1)
    assert st.commit_stream_batch(small, table, batch_id=0) is not None
    assert st.commit_stream_batch(small, table, batch_id=1) is not None
    snap = st.compact(spark, table, target_rows=1_000_000)
    assert snap is not None and snap["mode"] == "compact"
    assert snap["stream_batch_id"] == 1  # carried through maintenance
    n_before = st.read_table(spark, table).count()
    # crash-replay of batch 1 AFTER the compaction: must be a no-op
    assert st.commit_stream_batch(small, table, batch_id=1) is None
    assert st.read_table(spark, table).count() == n_before
    # genuinely new batch still lands
    assert st.commit_stream_batch(small, table, batch_id=2) is not None
    assert st.read_table(spark, table).count() == n_before + small.count()


def test_vacuum_sweeps_unreferenced_orphans(spark, docs, tmp_path):
    """Files referenced by NO snapshot (abandoned commit) are swept by
    vacuum once past the grace age — and in-flight-age files are not."""
    table = str(tmp_path / "t")
    st.write_table(docs, table)
    data_dir = os.path.join(table, "data")
    old_orphan = os.path.join(data_dir, "orphan-old.parquet")
    new_orphan = os.path.join(data_dir, "orphan-new.parquet")
    for p in (old_orphan, new_orphan):
        with open(p, "wb") as f:
            f.write(b"PAR1junk")
    past = os.path.getmtime(old_orphan) - 7200
    os.utime(old_orphan, (past, past))
    deleted = st.vacuum(table, keep_versions=5)  # no snapshot expiry due
    assert deleted == [os.path.join("data", "orphan-old.parquet")]
    assert not os.path.exists(old_orphan)
    assert os.path.exists(new_orphan)  # inside grace window: kept
    # referenced files untouched
    assert st.read_table(spark, table).count() == 100


def test_json_unsafe_footer_stats_skipped(spark, tmp_path):
    """ADVICE r05 low: timestamp/date/decimal footer stats are not
    JSON-native — the commit must skip them (no-prune fallback), not
    crash in json.dump."""
    df = spark.range(0, 10).select(
        F.col("id"),
        F.timestamp_seconds(F.col("id") * 86400 + 1_600_000_000).alias("ts"),
        F.col("id").cast("decimal(10,2)").alias("dec"),
    )
    table = str(tmp_path / "t")
    snap = st.write_table(df, table)  # would TypeError before the fix
    for entry in snap["files"]:
        assert "ts" not in entry["stats"] and "dec" not in entry["stats"]
        assert "id" in entry["stats"]  # JSON-native stats still lifted
    # unstatted column conservatively never prunes
    _, files = st.plan_files(table, prune=("ts", ">=", "2099-01-01"))
    assert len(files) == len(snap["files"])
    assert st.read_table(spark, table).count() == 10


def test_delete_rows_copy_on_write(spark, docs, tmp_path):
    """Copy-on-write DELETE: matching rows gone from the new snapshot,
    untouched files carried over byte-identical, old version still
    time-travels, and delete-then-vacuum reclaims the rewritten
    originals."""
    table = str(tmp_path / "t")
    # lay out files so grp ranges separate: repartitionByRange on grp
    # gives some files that cannot contain grp=4 (stats-prunable)
    st.write_table(docs.repartitionByRange(5, "grp"), table)
    snap1 = st.load_snapshot(table)
    untouched_before = {
        f["path"] for f in snap1["files"]
        if not (f["stats"]["grp"][0] <= 4 <= f["stats"]["grp"][1])
    }
    assert untouched_before  # layout really separated the ranges

    s = st.delete_rows(spark, table, "grp = 4", prune=("grp", "=", 4))
    assert s is not None and s["mode"] == "delete"
    assert s["deleted_rows"] == 20 and s["total_rows"] == 80
    # untouched files are the SAME manifest entries (no rewrite)
    new_paths = {f["path"] for f in s["files"]}
    assert untouched_before <= new_paths
    assert set(s["rewritten"]).isdisjoint(untouched_before)
    # data: latest has no grp=4; v1 still has all 100
    assert st.read_table(spark, table).where("grp = 4").count() == 0
    assert st.read_table(spark, table).count() == 80
    assert st.read_table(spark, table, version=1).count() == 100
    # no-op delete: nothing matches -> no new snapshot
    assert st.delete_rows(spark, table, "grp = 99") is None
    assert st.latest_version(table) == 2
    # delete-then-vacuum: the rewritten originals are reclaimed
    deleted = st.vacuum(table, keep_versions=1)
    assert set(deleted) == set(s["rewritten"])
    assert st.read_table(spark, table).count() == 80


def test_delete_rows_concurrent_writer_abort(spark, docs, tmp_path):
    """If a concurrent commit drops a file this delete planned to
    rewrite, the delete must abort (None), not resurrect stale data."""
    table = str(tmp_path / "t")
    st.write_table(docs, table)

    orig_write = st._write_data_files
    def hijack(df, tbl):
        # restore FIRST so the concurrent overwrite below (and any
        # later call) uses the real write path — one-shot interleave
        st._write_data_files = orig_write
        out = orig_write(df, tbl)
        # concurrent overwrite lands AFTER the delete staged its files
        st.write_table(docs.where("grp < 2"), table, mode="overwrite")
        return out
    st._write_data_files = hijack
    try:
        result = st.delete_rows(spark, table, "grp = 0")
    finally:
        st._write_data_files = orig_write
    assert result is None  # aborted: base moved underneath
    # table reflects only the concurrent overwrite
    assert st.read_table(spark, table).count() == 40


def test_hidden_partitioning_days_and_bucket(spark, tmp_path):
    """Hidden partitioning: write with [days(ts), bucket(url, 4)];
    manifest entries carry partition values; plan_files prunes on the
    RAW columns (caller never names the transform) and the pruned read
    is still a correct superset."""
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://site"), (F.col("id") % 7).cast("string"),
                 F.lit(".com/p"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") % 5) * 86400
        ).alias("warc_ts"),
    )
    table = str(tmp_path / "t")
    snap = st.write_table(
        df, table, partition_by=[("warc_ts", "days"), ("url", "bucket", 4)]
    )
    assert snap["partition_spec"][0]["name"] == "warc_ts_day"
    # every file is partition-pure and carries both values
    for e in snap["files"]:
        assert set(e["partition"]) == {"warc_ts_day", "url_bucket"}
    n_all = len(snap["files"])
    assert n_all > 5  # 5 days x up-to-4 buckets really fanned out

    # day pruning on the raw timestamp column (its footer stats are
    # NOT lifted — pruning works purely via the partition value)
    day0 = "2023-11-14"  # 1_700_000_000 falls on this UTC day
    _, files_day = st.plan_files(table, prune=("warc_ts", "=", day0 + " 22:13:20"))
    assert 0 < len(files_day) < n_all
    got = (
        st.read_table(spark, table, prune=("warc_ts", "=", day0 + " 22:13:20"))
        .where(F.col("warc_ts") == F.lit(day0 + " 22:13:20").cast("timestamp"))
    )
    assert got.count() == df.where(
        F.col("warc_ts") == F.lit(day0 + " 22:13:20").cast("timestamp")
    ).count() > 0

    # range pruning through the monotonic days transform
    _, files_range = st.plan_files(
        table, prune=("warc_ts", "between", (day0 + " 00:00:00", "2023-11-15 23:59:59"))
    )
    assert 0 < len(files_range) < n_all

    # bucket pruning on the raw url column: equality only
    some_url = "https://site3.com/p10"
    _, files_url = st.plan_files(table, prune=("url", "=", some_url))
    assert 0 < len(files_url) < n_all
    got_u = (
        st.read_table(spark, table, prune=("url", "=", some_url))
        .where(F.col("url") == some_url)
    )
    assert got_u.count() == 1
    # range op on a bucket transform must NOT prune (non-monotonic)...
    # ...but footer stats on url (a string col) may still cut; partition
    # pruning alone is exercised via a column with no stats: none here,
    # so just assert the full read round-trips
    assert st.read_table(spark, table).count() == 200

    # appends inherit the spec; a conflicting spec is rejected
    s2 = st.write_table(df.limit(10), table, mode="append")
    assert s2["partition_spec"] == snap["partition_spec"]
    assert all("partition" in e for e in s2["files"])
    with pytest.raises(ValueError, match="partition"):
        st.write_table(df.limit(1), table, mode="append",
                       partition_by=[("warc_ts", "days")])


def test_partitioned_compact_and_delete_preserve_layout(spark, tmp_path):
    """Compaction bin-packs WITHIN partition groups and deletes rewrite
    per group — partition values stay valid (pruning still correct)."""
    df = spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).alias("day_grp"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") % 3) * 86400
        ).alias("warc_ts"),
    )
    table = str(tmp_path / "t")
    # two small appends → 2 files per day value
    st.write_table(df.where("doc_id < 60").coalesce(1), table,
                   partition_by=[("warc_ts", "days")])
    st.write_table(df.where("doc_id >= 60").coalesce(1), table, mode="append")
    pre = st.load_snapshot(table)
    assert len(pre["files"]) == 6  # 3 days x 2 commits

    s = st.compact(spark, table, target_rows=1000)
    assert s is not None and len(s["files"]) == 3  # one per day group
    for e in s["files"]:
        assert "warc_ts_day" in e["partition"]
    assert s["partition_spec"] == pre["partition_spec"]
    # pruning still opens a strict subset, rows intact
    _, files_day = st.plan_files(table, prune=("warc_ts", "=", "2023-11-15 22:13:20"))
    assert len(files_day) == 1
    assert st.read_table(spark, table).count() == 120

    # delete one day's rows: only that group rewritten
    sd = st.delete_rows(spark, table, "day_grp = 1",
                        prune=("warc_ts", "=", "2023-11-15 22:13:20"))
    assert sd is not None and sd["deleted_rows"] == 40
    assert len(sd["rewritten"]) == 1
    assert sd["partition_spec"] == pre["partition_spec"]
    assert st.read_table(spark, table).count() == 80
    assert st.read_table(spark, table).where("day_grp = 1").count() == 0


def test_append_schema_evolution_null_backfill(spark, docs, tmp_path):
    """Add-column append (Iceberg schema evolution): old files lack the
    new column; reads align to the snapshot schema and null-backfill."""
    table = str(tmp_path / "t")
    st.write_table(docs, table)
    evolved = docs.where("grp = 0").withColumn(
        "quality", (F.col("doc_id") * 2).cast("double")
    )
    s2 = st.write_table(evolved, table, mode="append")
    assert "quality" in s2["schema"]
    out = st.read_table(spark, table)
    assert out.columns == ["doc_id", "grp", "text", "quality"]
    assert out.count() == 120
    # v1-era rows: quality null; evolved rows: populated
    assert out.where(F.col("quality").isNull()).count() == 100
    assert out.where("quality = 20.0").count() == 1
    # v1 still reads with its own (pre-evolution) schema
    v1 = st.read_table(spark, table, version=1)
    assert v1.columns == ["doc_id", "grp", "text"]
    # retype and drop are still rejected
    with pytest.raises(ValueError, match="retypes"):
        st.write_table(
            docs.withColumn("grp", F.col("grp").cast("int")), table, mode="append"
        )
    with pytest.raises(ValueError, match="drops"):
        st.write_table(docs.select("doc_id", "grp"), table, mode="append")


def test_read_incremental_append_only(spark, docs, tmp_path):
    """Incremental append scan: exactly the rows added between two
    versions; rejects non-append lineages and broken chains."""
    table = str(tmp_path / "t")
    st.write_table(docs.where("grp = 0"), table)                    # v1
    st.write_table(docs.where("grp = 1"), table, mode="append")     # v2
    st.write_table(docs.where("grp = 2"), table, mode="append")     # v3
    inc = st.read_incremental(spark, table, from_version=1)
    assert _rows(inc) == _rows(docs.where("grp IN (1, 2)"))
    inc12 = st.read_incremental(spark, table, from_version=1, to_version=2)
    assert _rows(inc12) == _rows(docs.where("grp = 1"))
    # from == to: empty, correctly typed
    same = st.read_incremental(spark, table, from_version=2, to_version=2)
    assert same.count() == 0 and same.columns == ["doc_id", "grp", "text"]
    # an overwrite poisons the lineage
    st.write_table(docs.where("grp = 3"), table, mode="overwrite")  # v4
    with pytest.raises(ValueError, match="append-only"):
        st.read_incremental(spark, table, from_version=1)
    # ...but a window past the overwrite works again
    st.write_table(docs.where("grp = 4"), table, mode="append")     # v5
    inc45 = st.read_incremental(spark, table, from_version=4)
    assert _rows(inc45) == _rows(docs.where("grp = 4"))


def test_merge_rows_upsert(spark, docs, tmp_path):
    """CoW MERGE: matched keys replaced, unmatched inserted, untouched
    files carried over, source key-uniqueness enforced."""
    table = str(tmp_path / "t")
    s0 = st.write_table(docs.repartitionByRange(5, "doc_id"), table)
    # updates: docs 0..9 get new text; inserts: 1000..1004
    upd = docs.where("doc_id < 10").withColumn(
        "text", F.concat(F.lit("UPDATED-"), F.col("doc_id").cast("string"))
    )
    ins = spark.range(1000, 1005).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).alias("grp"),
        F.lit("new").alias("text"),
    )
    src = upd.unionByName(ins)
    s = st.merge_rows(spark, table, src, ["doc_id"])
    assert s is not None and s["mode"] == "merge"
    assert s["updated_rows"] == 10 and s["total_rows"] == 105
    # only files containing doc_id < 10 were rewritten
    untouched = {
        f["path"] for f in s0["files"] if f["stats"]["doc_id"][0] >= 10
    }
    assert untouched and untouched <= {f["path"] for f in s["files"]}
    out = st.read_table(spark, table)
    assert out.count() == 105
    assert out.where("text LIKE 'UPDATED-%'").count() == 10
    assert out.where("doc_id >= 1000").count() == 5
    assert out.where("doc_id < 10 AND text NOT LIKE 'UPDATED-%'").count() == 0
    # pre-merge version still time-travels
    assert st.read_table(spark, table, version=1).count() == 100
    # non-key-unique source rejected
    with pytest.raises(ValueError, match="key-unique"):
        st.merge_rows(spark, table, src.unionByName(ins), ["doc_id"])


def test_merge_rows_partitioned_layout(spark, tmp_path):
    """MERGE on a partitioned table: rewritten files keep their group's
    partition values; inserted rows land with the table's layout."""
    df = spark.range(0, 90).select(
        F.col("id").alias("doc_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") % 3) * 86400
        ).alias("warc_ts"),
        F.lit("orig").alias("text"),
    )
    table = str(tmp_path / "t")
    st.write_table(df, table, partition_by=[("warc_ts", "days")])
    src = df.where("doc_id % 30 = 0").withColumn("text", F.lit("upd"))
    s = st.merge_rows(spark, table, src, ["doc_id"])
    assert s is not None
    for e in s["files"]:
        assert "warc_ts_day" in (e.get("partition") or {})
    # day pruning still cuts files; updated rows visible
    _, fs = st.plan_files(table, prune=("warc_ts", "=", "2023-11-14 22:13:20"))
    assert 0 < len(fs) < len(s["files"])
    assert st.read_table(spark, table).where("text = 'upd'").count() == 3
    assert st.read_table(spark, table).count() == 90


def test_partition_spec_evolution_via_overwrite(spark, tmp_path):
    """Changing the partition spec happens through overwrite (append
    with a different spec is rejected): the new snapshot carries the
    new spec and prunes through it; the old version still reads and
    prunes through ITS spec — per-snapshot specs, like Iceberg's
    spec-id per manifest."""
    df = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), (F.col("id") % 5).cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") % 3) * 86400
        ).alias("warc_ts"),
    )
    table = str(tmp_path / "t")
    st.write_table(df, table, partition_by=[("warc_ts", "days")])
    _, v1_day = st.plan_files(table, prune=("warc_ts", "=", "2023-11-15 22:13:20"))
    n1 = len(st.load_snapshot(table)["files"])
    assert 0 < len(v1_day) < n1

    st.write_table(df, table, partition_by=[("url", "bucket", 4)])
    snap2 = st.load_snapshot(table)
    assert snap2["partition_spec"][0]["name"] == "url_bucket"
    _, v2_url = st.plan_files(table, prune=("url", "=", "u3"))
    assert 0 < len(v2_url) < len(snap2["files"])
    # old version still prunes through the OLD spec
    _, old_day = st.plan_files(
        table, version=1, prune=("warc_ts", "=", "2023-11-15 22:13:20")
    )
    assert len(old_day) == len(v1_day)
    assert st.read_table(spark, table).count() == 60


def test_consumer_group_offsets(spark, docs, tmp_path):
    """Consumer-group incremental consumption: bootstrap reads the full
    snapshot, acks advance durably, replay-before-ack re-delivers,
    stale acks cannot rewind, caught-up returns None."""
    table = str(tmp_path / "t")
    st.write_table(docs.where("grp = 0"), table)                 # v1
    # bootstrap: full snapshot
    got = st.consume_appends(spark, table, "job-a")
    assert got is not None
    df, v = got
    assert df.count() == 20 and v == 1
    # crash before ack: replay delivers the same window
    df2, v2 = st.consume_appends(spark, table, "job-a")
    assert df2.count() == 20 and v2 == 1
    st.ack_consumed(table, "job-a", 1)
    assert st.consume_appends(spark, table, "job-a") is None     # caught up
    # two appends land; one consume covers both
    st.write_table(docs.where("grp = 1"), table, mode="append")  # v2
    st.write_table(docs.where("grp = 2"), table, mode="append")  # v3
    df3, v3 = st.consume_appends(spark, table, "job-a")
    assert v3 == 3 and _rows(df3) == _rows(docs.where("grp IN (1, 2)"))
    st.ack_consumed(table, "job-a", 3)
    # stale ack is a no-op (cannot rewind)
    st.ack_consumed(table, "job-a", 1)
    assert st.consumer_offset(table, "job-a") == 3
    # an independent group has its own offset (bootstraps fresh)
    dfb, vb = st.consume_appends(spark, table, "job-b")
    assert vb == 3 and dfb.count() == 60
    # non-append lineage surfaces as ValueError for a lagging group
    st.write_table(docs.where("grp = 4"), table, mode="overwrite")  # v4
    st.write_table(docs.where("grp = 3"), table, mode="append")     # v5
    with pytest.raises(ValueError, match="append-only"):
        st.consume_appends(spark, table, "job-a")


def test_update_rows_copy_on_write(spark, docs, tmp_path):
    """CoW UPDATE: matched rows get SET expressions (cast to the
    column's declared type), untouched files carry over, old version
    still time-travels, unknown SET column rejected."""
    table = str(tmp_path / "t")
    s0 = st.write_table(docs.repartitionByRange(5, "doc_id"), table)
    s = st.update_rows(
        spark, table, "doc_id < 20",
        {"text": "concat('U-', CAST(doc_id AS STRING))", "grp": "grp + 100"},
        prune=("doc_id", "<=", 19),
    )
    assert s is not None and s["mode"] == "update"
    assert s["updated_rows"] == 20 and s["total_rows"] == 100
    untouched = {f["path"] for f in s0["files"] if f["stats"]["doc_id"][0] >= 20}
    assert untouched and untouched <= {f["path"] for f in s["files"]}
    out = st.read_table(spark, table)
    assert out.where("text LIKE 'U-%'").count() == 20
    assert out.where("grp >= 100").count() == 20
    assert out.where("doc_id >= 20 AND grp >= 100").count() == 0
    # schema stable (grp stayed bigint despite the arithmetic expr)
    assert dict(out.dtypes)["grp"] == "bigint"
    assert st.read_table(spark, table, version=1).where("grp >= 100").count() == 0
    # no-match update: no-op; unknown column: rejected
    assert st.update_rows(spark, table, "doc_id = -1", {"grp": "0"}) is None
    with pytest.raises(ValueError, match="not a table column"):
        st.update_rows(spark, table, "doc_id = 0", {"nope": "1"})


def test_random_dml_sequences_match_model(spark, tmp_path):
    """Model-based check over the FULL DML surface: a seeded random
    sequence of overwrite/append/delete/update/merge/compact/vacuum
    must keep every retained version's read equal to an in-memory
    model — the invariant extends to row-level mutations (round 6)."""
    import random

    base = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10).alias("grp")
    ).cache()
    base.count()

    for seed in (7, 43):
        rng = random.Random(seed)
        table = str(tmp_path / f"t{seed}")
        model: dict[int, list] = {}
        latest: list = []
        for _step in range(12):
            op = rng.choice(
                ["overwrite", "append", "delete", "update", "merge", "compact", "vacuum"]
            )
            lo = rng.randrange(0, 280)
            hi = lo + rng.randrange(1, 40)
            piece = base.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            piece_rows = sorted(tuple(r) for r in piece.collect())
            if op == "overwrite":
                s = st.write_table(piece.coalesce(rng.randrange(1, 4)), table)
                latest = list(piece_rows)
                model[s["version"]] = latest
            elif not model:
                continue
            elif op == "append":
                s = st.write_table(piece.coalesce(1), table, mode="append")
                latest = sorted(latest + piece_rows)
                model[s["version"]] = latest
            elif op == "delete":
                g = rng.randrange(0, 10)
                s = st.delete_rows(spark, table, f"grp = {g}")
                if s is not None:
                    latest = [r for r in latest if r[1] != g]
                    model[s["version"]] = latest
            elif op == "update":
                g = rng.randrange(0, 10)
                s = st.update_rows(
                    spark, table, f"grp = {g}", {"doc_id": "doc_id + 1000"}
                )
                if s is not None:
                    latest = sorted(
                        (r[0] + 1000, r[1]) if r[1] == g else r for r in latest
                    )
                    model[s["version"]] = latest
            elif op == "merge":
                # upsert a key-unique slice with shifted grp
                src = piece.dropDuplicates(["doc_id"]).withColumn(
                    "grp", (F.col("grp") + 1) % 10
                )
                src_rows = {r[0]: tuple(r) for r in src.collect()}
                s = st.merge_rows(spark, table, src, ["doc_id"])
                if s is not None:
                    kept = [r for r in latest if r[0] not in src_rows]
                    latest = sorted(kept + list(src_rows.values()))
                    model[s["version"]] = latest
            elif op == "compact":
                s = st.compact(spark, table, target_rows=50)
                if s is not None:
                    model[s["version"]] = latest
            else:  # vacuum
                if len(model) < 2:
                    continue
                keep = rng.randrange(1, len(model) + 1)
                st.vacuum(table, keep_versions=keep)
                for v in sorted(model)[:-keep]:
                    del model[v]
            for v, want in model.items():
                got = sorted(
                    tuple(r)
                    for r in st.read_table(spark, table, version=v).collect()
                )
                assert got == want, (seed, _step, op, v, len(got), len(want))


def test_chained_log_pipeline_end_to_end(spark, docs, tmp_path):
    """The table-as-log pattern end-to-end: an exactly-once producer
    (commit_stream_batch) feeds table A; a consumer group drains A
    incrementally and applies to table B with batch-id idempotence —
    crash-replay at EITHER seam (producer batch replay, consumer
    crash-before-ack) leaves B's contents exactly-once."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")

    def drain(expect_rows):
        got = st.consume_appends(spark, a, "a-to-b")
        assert got is not None
        df, v = got
        assert df.count() == expect_rows
        # downstream apply keyed by the consumed version: replays of
        # the same window become no-ops in B
        assert st.commit_stream_batch(df, b, batch_id=v) is not None
        return df, v

    st.commit_stream_batch(docs.where("grp = 0"), a, batch_id=0)
    df, v = drain(20)
    # consumer crash BEFORE ack: re-consume delivers same window; the
    # idempotent apply into B is a no-op
    df2, v2 = st.consume_appends(spark, a, "a-to-b")
    assert v2 == v
    assert st.commit_stream_batch(df2, b, batch_id=v2) is None
    st.ack_consumed(a, "a-to-b", v)
    # producer replay into A is a no-op, so the consumer stays caught up
    assert st.commit_stream_batch(docs.where("grp = 0"), a, batch_id=0) is None
    assert st.consume_appends(spark, a, "a-to-b") is None
    # two more producer batches, one consumer drain covers both
    st.commit_stream_batch(docs.where("grp = 1"), a, batch_id=1)
    st.commit_stream_batch(docs.where("grp = 2"), a, batch_id=2)
    df3, v3 = drain(40)
    st.ack_consumed(a, "a-to-b", v3)
    assert _rows(st.read_table(spark, b)) == _rows(docs.where("grp <= 2"))


def test_merge_on_read_equality_delete(spark, docs, tmp_path):
    """MOR equality delete: O(|keys|) commit (data files untouched),
    read applies the anti-join, deletes survive append/compact, and
    apply_deletes materializes them away rewriting only touched
    files."""
    table = str(tmp_path / "t")
    s0 = st.write_table(docs.repartitionByRange(5, "doc_id"), table)
    keys = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    s = st.delete_rows_mor(spark, table, keys)
    assert s["mode"] == "delete-mor"
    # data files are EXACTLY the base's (no rewrite)
    assert [f["path"] for f in s["files"]] == [f["path"] for f in s0["files"]]
    assert len(s["delete_files"]) >= 1
    out = st.read_table(spark, table)
    assert out.count() == 90 and out.where("doc_id < 10").count() == 0
    # pre-delete version unaffected
    assert st.read_table(spark, table, version=1).count() == 100

    # appended rows with a deleted key are also suppressed (value
    # semantics) and the delete file survives the append
    st.write_table(docs.where("doc_id = 5"), table, mode="append")
    assert st.read_table(spark, table).where("doc_id = 5").count() == 0

    # a second MOR delete stacks
    st.delete_rows_mor(
        spark, table, spark.range(90, 95).select(F.col("id").alias("doc_id"))
    )
    assert st.read_table(spark, table).count() == 85

    # materialize: only files intersecting the keys rewritten
    applied = st.apply_deletes(spark, table)
    assert applied is not None and applied["mode"] == "apply-deletes"
    assert "delete_files" not in applied
    assert applied["total_rows"] == 85
    untouched = {
        f["path"] for f in s0["files"]
        if f["stats"]["doc_id"][0] >= 10 and f["stats"]["doc_id"][1] < 90
    }
    assert untouched and untouched <= {f["path"] for f in applied["files"]}
    assert st.read_table(spark, table).count() == 85
    # nothing pending now
    assert st.apply_deletes(spark, table) is None
    # vacuum reclaims the expired delete files + rewritten originals
    st.vacuum(table, keep_versions=1)
    assert st.read_table(spark, table).count() == 85


def test_mor_delete_with_cow_and_overwrite(spark, docs, tmp_path):
    """Pending MOR deletes are carried by CoW update (still applied at
    read) and dropped by overwrite (new table contents)."""
    table = str(tmp_path / "t")
    st.write_table(docs, table)
    st.delete_rows_mor(
        spark, table, spark.range(0, 10).select(F.col("id").alias("doc_id"))
    )
    s = st.update_rows(spark, table, "grp = 1", {"text": "'X'"})
    assert s is not None and s.get("delete_files")
    out = st.read_table(spark, table)
    assert out.count() == 90  # deletes still applied after the rewrite
    # grp=1 has 20 rows; 2 of them (doc_id 1, 6) are MOR-deleted -> 18
    assert out.where("text = 'X'").count() == 18
    st.write_table(docs.where("grp = 0"), table, mode="overwrite")
    assert "delete_files" not in st.load_snapshot(table)
    assert st.read_table(spark, table).count() == 20  # deletes dropped


def test_side_manifest_for_large_file_lists(spark, docs, tmp_path, monkeypatch):
    """Metadata scaling: above the inline threshold the file list moves
    to a write-once side manifest; the snapshot JSON stays tiny, reads
    and time travel are unchanged, and vacuum reclaims the side file
    with its snapshot."""
    monkeypatch.setattr(st, "INLINE_FILES_MAX", 5)
    table = str(tmp_path / "t")
    s1 = st.write_table(docs.repartition(10), table)       # 10 files > 5
    assert "files_ref" in s1
    snap_dir = os.path.join(table, st.SNAP_DIR)
    # the snapshot file itself holds a pointer, not the list
    with open(st._snap_path(table, 1)) as f:
        raw = json.load(f)
    assert "files" not in raw and raw["files_ref"] == s1["files_ref"]
    assert os.path.exists(os.path.join(snap_dir, s1["files_ref"]))
    # transparent read + load
    assert len(st.load_snapshot(table)["files"]) == 10
    assert _rows(st.read_table(spark, table)) == _rows(docs)
    # small overwrite stays inline; old version still time-travels
    s2 = st.write_table(docs.where("grp = 0").coalesce(1), table)
    assert "files_ref" not in s2
    assert _rows(st.read_table(spark, table, version=1)) == _rows(docs)
    # MOR delete over a side-manifest base keeps working: grp=0 holds
    # doc_ids 0,5,...,95, so of keys 0..4 only doc_id 0 matches -> 19
    st.delete_rows_mor(
        spark, table, spark.range(0, 5).select(F.col("id").alias("doc_id"))
    )
    assert st.read_table(spark, table).count() == 19
    # vacuum drops v1 -> its side manifest goes with it
    st.vacuum(table, keep_versions=2)
    assert not os.path.exists(os.path.join(snap_dir, s1["files_ref"]))
    assert st.read_table(spark, table).count() == 19


def test_zorder_multi_column_pruning(spark, tmp_path):
    """Z-order layout: after clustering on (x, y), predicates on
    EITHER column prune the file list; the range-by-x layout prunes
    only on x. Row content identical."""
    df = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 128).alias("x"),
        ((F.col("id") * 37) % 128).alias("y"),
    )
    table = str(tmp_path / "t")
    st.write_table(df.repartitionByRange(16, "x"), table)
    n = len(st.load_snapshot(table)["files"])
    _, fx = st.plan_files(table, prune=("x", "between", (10, 20)))
    _, fy = st.plan_files(table, prune=("y", "between", (10, 20)))
    assert len(fx) < n          # x-sorted layout prunes on x...
    assert len(fy) == n         # ...but not at all on y

    s = st.zorder_table(spark, table, ["x", "y"], bits=7, n_files=16)
    assert s["zorder"] == ["x", "y"]
    nz = len(s["files"])
    _, zx = st.plan_files(table, prune=("x", "between", (10, 20)))
    _, zy = st.plan_files(table, prune=("y", "between", (10, 20)))
    assert len(zx) < nz and len(zy) < nz   # BOTH axes prune now
    assert len(zy) < n                      # strictly better than before
    # rows unchanged; pre-zorder version still time-travels
    assert st.read_table(spark, table).count() == 20000
    got = (
        st.read_table(spark, table, prune=("y", "between", (10, 20)))
        .where("y between 10 and 20")
        .count()
    )
    assert got == df.where("y between 10 and 20").count()
    assert st.read_table(spark, table, version=1).count() == 20000


def test_partition_transform_spark_python_agreement(spark):
    """The hinge of hidden-partitioning correctness: the WRITE-side
    Spark transform expression and the QUERY-side Python literal
    transform must agree on every value — otherwise pruning silently
    drops matching files. Seeded random sweep over both transforms."""
    import datetime as dt
    import random

    rng = random.Random(1234)
    # days: random epoch seconds across 1970..2100, incl. day edges
    secs = [rng.randrange(0, 4_102_444_800) for _ in range(300)]
    secs += [0, 86399, 86400, 4_102_444_799]
    spec_d = st._norm_partition_spec([("ts", "days")])[0]
    df = spark.createDataFrame([(s,) for s in secs], "sec long").select(
        F.timestamp_seconds(F.col("sec")).alias("ts"), "sec"
    )
    got = {
        r["sec"]: r["d"]
        for r in df.select("sec", st._transform_expr(spec_d).alias("d")).collect()
    }
    for s in secs:
        as_dt = dt.datetime.fromtimestamp(s, dt.timezone.utc)
        assert got[s] == st._transform_value(spec_d, as_dt), (s, as_dt)
        # string form (what a query literal looks like)
        assert got[s] == st._transform_value(
            spec_d, as_dt.strftime("%Y-%m-%d %H:%M:%S")
        ), s

    # bucket: random url-ish strings, several bucket counts
    strings = [
        f"https://site{rng.randrange(1000)}.org/p/{rng.randrange(10**6)}"
        for _ in range(300)
    ] + ["", "a", "ünïcode/päth?q=1"]
    for n in (2, 8, 64):
        spec_b = st._norm_partition_spec([("url", "bucket", n)])[0]
        dfb = spark.createDataFrame([(u,) for u in strings], "url string")
        gotb = {
            r["url"]: r["b"]
            for r in dfb.select(
                "url", st._transform_expr(spec_b).alias("b")
            ).collect()
        }
        for u in strings:
            assert gotb[u] == st._transform_value(spec_b, u), (u, n)


def test_concurrent_threaded_appenders_all_land(spark, docs, tmp_path):
    """REAL concurrency (not simulated): six threads append
    simultaneously; the optimistic loop must serialize them — every
    commit lands at a distinct version, no rows lost or duplicated,
    and the final snapshot references every thread's files."""
    import threading

    table = str(tmp_path / "t")
    st.write_table(docs.where("grp = 0"), table)  # v1: 20 rows
    results: dict[int, dict] = {}
    errors: list = []

    def appender(i):
        try:
            results[i] = st.write_table(
                docs.where(F.col("doc_id") % 6 == i).coalesce(1),
                table,
                mode="append",
                max_retries=20,
            )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append((i, e))

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    versions = sorted(r["version"] for r in results.values())
    assert versions == [2, 3, 4, 5, 6, 7]  # all landed, all distinct
    final = st.read_table(spark, table)
    # 20 (grp=0 base) + all 100 docs appended across the 6 residues
    assert final.count() == 120
    assert final.where("grp = 0").count() == 40  # base + its residue copies


def test_tags_branches_pin_and_read(spark, docs, tmp_path):
    """Refs surface: a tag reads its pinned version forever; a branch
    moves atomically; vacuum respects both as pins; drop_ref releases
    the pin. Tags are immutable and names are single-create."""
    table = str(tmp_path / "t")
    st.write_table(docs, table)                                   # v1 full
    st.create_tag(table, "release-1")
    st.write_table(docs.where("grp = 0"), table, mode="overwrite")  # v2
    st.create_branch(table, "serving", version=2)
    st.write_table(docs.where("grp = 1"), table, mode="overwrite")  # v3

    assert _rows(st.read_table(spark, table, ref="release-1")) == _rows(docs)
    assert _rows(st.read_table(spark, table, ref="serving")) == _rows(
        docs.where("grp = 0")
    )
    st.set_branch(table, "serving", 3)
    assert _rows(st.read_table(spark, table, ref="serving")) == _rows(
        docs.where("grp = 1")
    )
    with pytest.raises(ValueError, match="immutable"):
        st.set_branch(table, "release-1", 3)
    with pytest.raises(FileExistsError):
        st.create_tag(table, "release-1", version=2)
    with pytest.raises(ValueError, match="version= or ref="):
        st.read_table(spark, table, version=1, ref="serving")

    # vacuum keeps v1 (tagged) though outside the keep window; v2 goes
    st.vacuum(table, keep_versions=1, orphan_grace_seconds=1e9)
    assert st._list_versions(table) == [1, 3]
    assert _rows(st.read_table(spark, table, ref="release-1")) == _rows(docs)
    # dropping the tag releases the pin
    st.drop_ref(table, "release-1")
    st.vacuum(table, keep_versions=1, orphan_grace_seconds=1e9)
    assert st._list_versions(table) == [3]
    with pytest.raises(KeyError):
        st.resolve_ref(table, "release-1")
    assert set(st.list_refs(table)) == {"serving"}


def test_rollback_is_metadata_only_new_commit(spark, docs, tmp_path):
    """rollback_table restores an old snapshot's exact file set as a
    NEW version without touching data; intermediate history survives
    until vacuum; a later append stacks on the rolled-back state."""
    table = str(tmp_path / "t")
    s1 = st.write_table(docs, table)                                # v1
    st.write_table(docs.where("grp = 4"), table, mode="overwrite")  # v2 "bad"
    s3 = st.rollback_table(table, 1)                                # v3 = v1
    assert s3["version"] == 3 and s3["mode"] == "rollback"
    assert s3["rolled_back_to"] == 1
    assert [f["path"] for f in s3["files"]] == [f["path"] for f in s1["files"]]
    assert _rows(st.read_table(spark, table)) == _rows(docs)
    # the bad version is still auditable via time travel
    assert st.read_table(spark, table, version=2).count() == 20
    # appends continue from the restored state
    extra = docs.where("grp = 0").withColumn("doc_id", F.col("doc_id") + 1000)
    st.write_table(extra, table, mode="append")
    assert st.read_table(spark, table).count() == 120


def test_wap_stage_audit_publish_and_drop(spark, docs, tmp_path):
    """Write-audit-publish: staged rows are invisible to every reader
    until publish; the audit reads ONLY the staged files; a failed
    audit drops the stage and vacuum's orphan sweep reclaims the data
    files; publish is metadata-only on top of a moved base."""
    table = str(tmp_path / "t")
    st.write_table(docs, table, partition_by=[("grp", "identity")])  # v1

    bad = docs.where("grp = 2").withColumn("doc_id", F.col("doc_id") + 500)
    staged_bad = st.stage_append(bad, table, wap_id="batch-bad")
    assert staged_bad["new_rows"] == 20
    # invisible: latest still reads 100 rows, and no new version exists
    assert st.read_table(spark, table).count() == 100
    assert st.latest_version(table) == 1
    # audit surface = exactly the staged rows (with partition values
    # inherited from the table's spec, ready for a metadata publish)
    audited = st.read_staged(spark, table, "batch-bad")
    assert audited.count() == 20
    assert all(e.get("partition") == {"grp": 2} for e in staged_bad["files"])
    # audit "fails" → drop; files become orphans, protected until then
    staged_paths = [os.path.join(table, f["path"]) for f in staged_bad["files"]]
    assert st.vacuum(table, orphan_grace_seconds=0.0) == []  # staged = pinned
    st.drop_staged(table, "batch-bad")
    swept = st.vacuum(table, orphan_grace_seconds=0.0)
    assert sorted(swept) == sorted(f["path"] for f in staged_bad["files"])
    assert not any(os.path.exists(p) for p in staged_paths)

    # second batch passes audit; base moves between stage and publish
    good = docs.where("grp = 3").withColumn("doc_id", F.col("doc_id") + 500)
    st.stage_append(good, table, wap_id="batch-good")
    st.delete_rows(spark, table, "grp = 0")                          # v2
    pub = st.publish_staged(table, "batch-good")
    assert pub["version"] == 3 and pub["mode"] == "wap_publish"
    assert pub["wap_id"] == "batch-good"
    expect = docs.where("grp != 0").unionByName(good)
    assert _rows(st.read_table(spark, table)) == _rows(expect)
    assert st.list_staged(table) == []
    with pytest.raises(KeyError):
        st.publish_staged(table, "batch-good")  # publish is one-shot


def test_positional_delete_instance_semantics(spark, docs, tmp_path):
    """Iceberg v2 position deletes: kill the row INSTANCES that
    matched at delete time — later appends of the same values stay
    live (the semantic line vs equality deletes), old versions still
    time-travel, apply_deletes materializes, rewrites refuse while
    pending."""
    import pytest

    table = str(tmp_path / "t")
    st.write_table(docs.repartition(4), table)

    s = st.delete_rows_positional(spark, table, "doc_id < 10")
    assert s is not None and s["mode"] == "delete-pos"
    assert all(e.get("positional") for e in s["delete_files"])
    out = st.read_table(spark, table)
    assert out.count() == 90 and out.where("doc_id < 10").count() == 0
    assert st.read_table(spark, table, version=1).count() == 100

    # appending the SAME values again: instances survive (equality
    # deletes would kill them at read)
    st.write_table(docs.where("doc_id < 3"), table, mode="append")
    assert st.read_table(spark, table).where("doc_id < 3").count() == 3
    assert st.read_table(spark, table).count() == 93

    # no-match predicate: no-op, no snapshot
    v_before = st.latest_version(table)
    assert st.delete_rows_positional(spark, table, "doc_id = 100000") is None
    assert st.latest_version(table) == v_before

    # second positional delete stacks and only kills still-live rows
    st.delete_rows_positional(spark, table, "doc_id >= 95")
    assert st.read_table(spark, table).count() == 88

    # file-rewriting ops refuse while positional deletes pend
    with pytest.raises(ValueError, match="positional"):
        st.delete_rows(spark, table, "doc_id = 50")
    with pytest.raises(ValueError, match="positional"):
        st.compact(spark, table, target_rows=1000)
    with pytest.raises(ValueError, match="positional"):
        st.merge_rows(
            spark, table,
            docs.where("doc_id = 50"), key_cols=["doc_id"],
        )

    applied = st.apply_deletes(spark, table)
    assert applied is not None and "delete_files" not in applied
    got = st.read_table(spark, table)
    assert got.count() == 88
    assert got.where("doc_id < 3").count() == 3  # the re-appended trio
    assert got.where("(doc_id >= 3 AND doc_id < 10) OR doc_id >= 95").count() == 0
    # after materialization, rewrites work again
    assert st.compact(spark, table, target_rows=1000) is not None
    assert st.read_table(spark, table).count() == 88


def test_positional_and_equality_deletes_compose(spark, docs, tmp_path):
    """Both MOR flavors pending at once: the read applies the equality
    anti-join by value AND the positional anti-join by coordinate, and
    plans without a Spark job (delete files are read with declared
    schemas). apply_deletes rewrites only the files holding dead rows,
    also under a table root whose path contains ``data/``."""
    from tests.conftest import count_jobs

    table = str(tmp_path / "mydata" / "t")
    s0 = st.write_table(docs.repartitionByRange(4, "doc_id"), table)
    st.delete_rows_mor(
        spark, table, spark.range(0, 5).select(F.col("id").alias("doc_id"))
    )
    st.delete_rows_positional(spark, table, "doc_id >= 90")
    out, n_jobs = count_jobs(spark, lambda: st.read_table(spark, table))
    assert n_jobs == 0
    assert out.count() == 85
    assert out.where("doc_id < 5 OR doc_id >= 90").count() == 0
    # positional tombstones skipped rows already dead by equality
    applied = st.apply_deletes(spark, table)
    assert applied is not None and st.read_table(spark, table).count() == 85
    hit = sorted(
        f["path"] for f in s0["files"]
        if f["stats"]["doc_id"][0] < 5 or f["stats"]["doc_id"][1] >= 90
    )
    assert applied["rewritten"] == hit and len(hit) < len(s0["files"])


def _stream_batch(docs):
    """Five rows no base table holds (doc_id 1000..1004)."""
    return docs.where("doc_id < 5").withColumn("doc_id", F.col("doc_id") + 1000)


def test_zorder_race_keeps_midflight_stream_batch(spark, docs, tmp_path, monkeypatch):
    """A stream batch that commits while a zorder rewrite runs must not
    be dropped by the zorder's overwrite: the zorder either raises
    CommitConflict or keeps the batch, and the batch is never replayed
    (not even once vacuum has expired every older snapshot)."""
    table = str(tmp_path / "t")
    st.write_table(docs, table)
    batch = _stream_batch(docs)
    real_write = st._write_data_files
    fired = []

    def racing_write(df, tbl, spec=None):
        files = real_write(df, tbl, spec)
        if not fired:  # right after the zorder's own data write
            fired.append(True)
            assert st.commit_stream_batch(batch, table, batch_id=4) is not None
        return files

    monkeypatch.setattr(st, "_write_data_files", racing_write)
    with contextlib.suppress(st.CommitConflict):
        st.zorder_table(spark, table, ["doc_id", "grp"], n_files=4)
    monkeypatch.undo()
    assert fired
    assert st.read_table(spark, table).where("doc_id >= 1000").count() == 5
    n = st.read_table(spark, table).count()
    st.vacuum(table, keep_versions=1)
    assert st.commit_stream_batch(batch, table, batch_id=4) is None
    assert st.read_table(spark, table).count() == n
    # rerun on the settled table: commits, keeps the rows and the watermark
    s = st.zorder_table(spark, table, ["doc_id", "grp"], n_files=4)
    assert s["stream_batch_id"] == 4 and st.read_table(spark, table).count() == n


def _positional_then_apply(spark, docs, table):
    st.delete_rows_positional(spark, table, "doc_id < 3")
    return st.apply_deletes(spark, table)


def _stage_then_publish(spark, docs, table):
    st.stage_append(docs.where("grp = 1"), table, wap_id="w1")
    return st.publish_staged(table, "w1")


WRITERS = {
    "append": lambda spark, docs, t: st.write_table(docs.where("grp = 0"), t, mode="append"),
    "overwrite": lambda spark, docs, t: st.write_table(docs.where("grp = 0"), t),
    "delete_rows": lambda spark, docs, t: st.delete_rows(spark, t, "doc_id < 10"),
    "update_rows": lambda spark, docs, t: st.update_rows(
        spark, t, "doc_id < 10", {"text": "'u'"}),
    "merge_rows": lambda spark, docs, t: st.merge_rows(
        spark, t, docs.where("doc_id < 10").withColumn("text", F.lit("m")), ["doc_id"]),
    "delete_rows_mor": lambda spark, docs, t: st.delete_rows_mor(
        spark, t, docs.where("doc_id < 3").select("doc_id")),
    "positional_then_apply": _positional_then_apply,
    "compact": lambda spark, docs, t: st.compact(spark, t),
    "rollback_table": lambda spark, docs, t: st.rollback_table(t, 1),
    "publish_staged": _stage_then_publish,
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_every_writer_carries_stream_watermark(spark, docs, tmp_path, writer):
    """Every commit carries the replay watermark forward, so after any
    writer plus vacuum(keep_versions=1) a replayed batch is still a
    no-op — the latest snapshot alone guards exactly-once."""
    table = str(tmp_path / "t")
    st.write_table(docs.repartition(2), table)
    batch = _stream_batch(docs)
    assert st.commit_stream_batch(batch, table, batch_id=7) is not None
    snap = WRITERS[writer](spark, docs, table)
    assert snap is not None and snap["version"] == st.latest_version(table)
    assert snap.get("stream_batch_id") == 7
    n = st.read_table(spark, table).count()
    st.vacuum(table, keep_versions=1)
    assert st.commit_stream_batch(batch, table, batch_id=7) is None
    assert st.read_table(spark, table).count() == n


def test_stream_commit_loads_do_not_grow_with_history(spark, docs, tmp_path, monkeypatch):
    """The replay check reads the latest snapshot only: the number of
    snapshot loads in one commit_stream_batch is the same after 5 and
    after 10 prior stream commits."""
    table = str(tmp_path / "t")
    batch = docs.where("doc_id < 2").coalesce(1)
    real_load = st.load_snapshot
    calls = []

    def counting_load(*a, **k):
        calls.append(a)
        return real_load(*a, **k)

    def loads_for(batch_id):
        calls.clear()
        monkeypatch.setattr(st, "load_snapshot", counting_load)
        assert st.commit_stream_batch(batch, table, batch_id=batch_id) is not None
        monkeypatch.undo()
        return len(calls)

    for b in range(5):
        st.commit_stream_batch(batch, table, batch_id=b)
    at_5 = loads_for(5)
    for b in range(6, 10):
        st.commit_stream_batch(batch, table, batch_id=b)
    assert loads_for(10) == at_5 <= 3
