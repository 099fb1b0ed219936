"""Focused pins for the round-7 snaptable correctness fixes (ADVICE r06):
rewrite-commit TOCTOU guard, exact MOR column validation, zorder
maintenance carry, vacuum side-manifest sweep."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from bootleg_spark.sources import snaptable as st


def _docs(spark, n=100):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).alias("grp"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
    )


def test_rewrite_base_guard_aborts_on_midflight_deletes():
    """A positional (or any new) delete file committed between rewrite
    planning and publish must abort the commit — carrying it forward
    would resurrect positionally-deleted rows (ADVICE r06 medium)."""
    snap0 = {"delete_files": []}
    same = {"delete_files": []}
    st._check_rewrite_base("t", snap0, same)  # no deletes → fine

    pos = {"delete_files": [{"path": "data/d1.parquet", "positional": True}]}
    with pytest.raises(st.CommitConflict):
        st._check_rewrite_base("t", snap0, pos)

    eq_gained = {"delete_files": [{"path": "data/d2.parquet", "equality_cols": ["doc_id"]}]}
    with pytest.raises(st.CommitConflict):
        st._check_rewrite_base("t", snap0, eq_gained)

    # unchanged (or shrunk, e.g. by vacuum) delete sets pass
    planned = {"delete_files": [{"path": "data/d3.parquet", "equality_cols": ["doc_id"]}]}
    st._check_rewrite_base("t", planned, planned)
    st._check_rewrite_base("t", planned, {"delete_files": []})


def test_cow_delete_aborts_when_positional_lands_midflight(spark, tmp_path, monkeypatch):
    """End-to-end TOCTOU: a positional delete sneaks in after delete_rows
    planned its rewrite; the commit must raise instead of publishing a
    snapshot whose carried coordinates name dropped files."""
    table = str(tmp_path / "t")
    st.write_table(_docs(spark), table)

    real_load = st.load_snapshot
    fired = {"done": False}

    def racing_load(tbl, version=None):
        # first re-base inside the retry loop: commit a positional
        # delete just before the loop reads the latest snapshot
        if not fired["done"] and version is None and tbl == table:
            fired["done"] = True
            st.delete_rows_positional(spark, table, "doc_id = 7")
        return real_load(tbl, version)

    monkeypatch.setattr(st, "load_snapshot", racing_load)
    # guard against both outcomes the guard allows: an explicit abort
    # (CommitConflict) — never a silent publish
    with pytest.raises((st.CommitConflict, ValueError)):
        st.delete_rows(spark, table, "doc_id < 10")
    monkeypatch.undo()
    # the positionally-deleted row must still be gone
    assert st.read_table(spark, table).where("doc_id = 7").count() == 0


def test_delete_mor_rejects_substring_column_names(spark, tmp_path):
    """'id' is a substring of 'doc_id' and of the simpleString's type
    text — the r06 validation accepted it and produced a delete file
    that broke every subsequent read (ADVICE r06 low)."""
    table = str(tmp_path / "t")
    st.write_table(_docs(spark), table)
    keys = spark.range(0, 3).select(F.col("id"))
    with pytest.raises(ValueError, match="equality columns"):
        st.delete_rows_mor(spark, table, keys)
    # table must still read cleanly afterwards
    assert st.read_table(spark, table).count() == 100


def test_zorder_carries_partition_spec_and_watermark(spark, tmp_path):
    """zorder is a maintenance action like compact: it must not strip
    the hidden-partitioning spec or the streaming replay watermark
    (ADVICE r06 low)."""
    table = str(tmp_path / "t")
    st.write_table(_docs(spark), table, partition_by=[("grp",)])
    assert st.commit_stream_batch(_docs(spark).where("doc_id < 5"), table, batch_id=3) is not None
    before = st.load_snapshot(table)
    assert before.get("partition_spec") and before.get("stream_batch_id") == 3

    snap = st.zorder_table(spark, table, ["doc_id", "grp"], n_files=4)
    assert snap.get("partition_spec") == before["partition_spec"]
    assert snap.get("stream_batch_id") == 3
    # the watermark still guards replay: re-committing batch 3 is a no-op
    assert st.commit_stream_batch(_docs(spark).where("doc_id < 5"), table, batch_id=3) is None


def test_vacuum_sweeps_orphan_side_manifests(spark, tmp_path, monkeypatch):
    """A crash between writing m-*.json and the os.link publish leaves
    an unreferenced side manifest (and .tmp) in _snapshots/ forever;
    vacuum now sweeps them under the same mtime grace, while REFERENCED
    side manifests survive (ADVICE r06 low)."""
    table = str(tmp_path / "t")
    monkeypatch.setattr(st, "INLINE_FILES_MAX", 0)  # force side manifests
    st.write_table(_docs(spark), table)
    snap_dir = os.path.join(table, st.SNAP_DIR)
    referenced = st.load_snapshot(table).get("files_ref")
    assert referenced, "expected a side manifest with inline_max=0"
    orphan = os.path.join(snap_dir, "m-99-deadbeef.json")
    tmp = os.path.join(snap_dir, ".m-99-deadbeef.json.tmp")
    for p in (orphan, tmp):
        with open(p, "w") as f:
            f.write("{}")
        old = time.time() - 10_000
        os.utime(p, (old, old))
    deleted = st.vacuum(table, keep_versions=1, orphan_grace_seconds=3600)
    names = {os.path.basename(d) for d in deleted}
    assert "m-99-deadbeef.json" in names and ".m-99-deadbeef.json.tmp" in names
    assert not os.path.exists(orphan) and not os.path.exists(tmp)
    # the referenced side manifest survives and the table still reads
    assert os.path.exists(os.path.join(snap_dir, referenced))
    assert st.read_table(spark, table).count() == 100
    # a FRESH orphan (inside the grace window) is protected
    fresh = os.path.join(snap_dir, "m-98-cafebabe.json")
    with open(fresh, "w") as f:
        f.write("{}")
    st.vacuum(table, keep_versions=1, orphan_grace_seconds=3600)
    assert os.path.exists(fresh)
