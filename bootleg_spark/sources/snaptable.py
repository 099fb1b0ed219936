"""Snapshot-manifest table layer over parquet — the Iceberg semantics
(snapshot isolation, time travel, optimistic commits, stats-based file
skipping) hand-rolled because the Iceberg/Delta jars are absent from
this environment (BASELINE.json input_hint names an Iceberg table;
SURVEY §7.1).

What it reproduces, and how it maps onto the real thing:

- **A table is its snapshot list, not its directory listing.** Data
  files land in ``data/`` under write-once unique names; a snapshot is
  a JSON manifest ``_snapshots/v{N}.json`` naming exactly the files it
  contains plus per-file column stats. Readers NEVER glob ``data/`` —
  at crawl scale a directory listing of an object store is both slow
  and racy; the manifest is one small read. Above
  ``INLINE_FILES_MAX`` (2000) entries the file list moves to a
  write-once SIDE manifest and the snapshot JSON holds a pointer
  (Iceberg's metadata-file / manifest-list split), so version
  resolution stays O(1) no matter how many files a snapshot holds.
- **Snapshot isolation + time travel.** Overwrite writes new files and
  a new snapshot that simply doesn't reference the old ones; the old
  snapshot stays readable (``version=``) until :func:`vacuum` drops
  files no retained snapshot references.
- **Optimistic commit.** Every writer commits through one
  :func:`_commit`: it reloads the latest snapshot as the base, carries
  ``schema``/``schema_json``/``partition_spec``/``delete_files``/``ivf``
  and the monotone ``stream_batch_id`` replay watermark from it, and
  publishes with ``os.link`` (create-exclusive) — two writers racing
  to version N+1 get one winner, and the loser retries on the new
  base, Iceberg's atomic-swap contract. Same shared-POSIX-filesystem
  contract as sources/warc.py's sink (object stores: conditional PUT).
- **Scan planning on stats.** Each manifest entry carries min/max per
  leaf column (read from the parquet footers the files already have —
  exactly where Iceberg gets them). :func:`read_table` prunes files
  against simple predicates BEFORE Spark ever sees a path, so a
  selective read of a 10^12-row table opens only the files whose
  range intersects — metadata-only pruning, no data I/O for misses.
- **Hidden partitioning.** :func:`write_table` takes a partition spec
  of Iceberg transforms (``days(warc_ts)``, ``bucket(url, N)``,
  identity — SURVEY §4's pruning story); the transform column exists
  only during the write, each data file records its partition values
  in the manifest, and :func:`plan_files` prunes raw-column
  predicates through the transform — composed (AND) with the footer
  stats.
- **Copy-on-write row-level DELETE.** :func:`delete_rows` rewrites
  only the stats-pruned files that actually contain matching rows
  (detected in one pushed-down scan grouped by each row's data file,
  :func:`_touched`), carries every untouched file into the new
  snapshot, and aborts on concurrent-writer conflicts — Iceberg's CoW
  delete, the takedown/GDPR path.
- **Schema evolution on append.** Appends may ADD columns (drops and
  retypes rejected); reads align every file to the snapshot schema
  with null backfill for pre-evolution files. Every parquet read of
  the module — data files and delete files alike — goes through
  :func:`_read_files` with a declared schema, so no read infers one.

Every incremental graph write lands here: the page stream and the
table-as-log step both insert through
``plans/pipeline.py:insert_new_triples``. A batch run links once into
the bucketed store (sources/store.py, ``materialize_triples``' mid-run
checkpoint), and ``snapshot_triples`` publishes the graph table from
that store, without linking again.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

SNAP_DIR = "_snapshots"
FORMAT_VERSION = 1
INLINE_FILES_MAX = 2000  # file entries a snapshot JSON holds inline


class CommitConflict(RuntimeError):
    """Another writer committed this version first — reread the latest
    snapshot and retry (Iceberg's optimistic-concurrency loss case)."""


def _snap_path(table: str, version: int) -> str:
    return os.path.join(table, SNAP_DIR, f"v{version}.json")


def _try_publish(table: str, snap: dict) -> bool:
    """Stamp the commit wall-clock (``committed_at``, an audit field
    every snapshot on disk carries) and atomically publish snapshot
    ``snap['version']`` via the create-exclusive link.
    ``False`` = lost the race; the caller re-derives its base and
    retries."""
    import time as _time

    snap["committed_at"] = round(_time.time(), 3)
    # metadata scaling: above INLINE_FILES_MAX entries the
    # file list moves to a write-once SIDE manifest and the snapshot
    # JSON holds only a pointer — the module docstring's "chunk the
    # file list into side manifests exactly as Iceberg does". Readers
    # inline it back in load_snapshot; at 10^6 files the snapshot
    # file itself stays tiny and O(1) to read/parse for version
    # resolution (latest_version).
    to_write = snap
    if len(snap.get("files", [])) + len(snap.get("delete_files", [])) > INLINE_FILES_MAX:
        ref = f"m-{snap['version']}-{uuid.uuid4().hex[:8]}.json"
        side = {"files": snap["files"]}
        if snap.get("delete_files"):
            side["delete_files"] = snap["delete_files"]
        _write_json(os.path.join(table, SNAP_DIR, ref), side, exclusive=False)
        to_write = {
            k: v for k, v in snap.items() if k not in ("files", "delete_files")
        }
        to_write["files_ref"] = ref
        snap["files_ref"] = ref  # caller's dict mirrors the loaded form
    if _write_json(_snap_path(table, snap["version"]), to_write, exclusive=True):
        return True
    # a losing racer's side manifest is unreferenced — reclaim now
    if "files_ref" in snap:
        side_path = os.path.join(table, SNAP_DIR, snap.pop("files_ref"))
        if os.path.exists(side_path):
            os.unlink(side_path)
    return False


def _write_json(path: str, obj, exclusive: bool) -> bool:
    """Atomically write ``obj`` as JSON at ``path``: dump into a
    dot-prefixed ``.tmp`` file in ``path``'s directory (where
    :func:`vacuum`'s ``_snapshots/`` sweep finds a crashed writer's
    leftover), then either ``os.link`` it create-exclusive — ``False``
    when ``path`` already exists, the lost race — or ``os.replace`` it
    (last writer wins)."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}-{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    if not exclusive:
        os.replace(tmp, path)
        return True
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


# base fields every commit inherits unless its builder overrides them
# (``ivf``: the centroids of similarity.build_ivf_table's index layout)
_CARRIED = ("schema", "schema_json", "partition_spec", "delete_files", "ivf")


def _commit(table: str, mode: str, build, max_retries: int = 3) -> dict | None:
    """The one optimistic commit every writer goes through. Each attempt
    reloads the latest snapshot as ``base`` (``None`` for a new table)
    and calls ``build(base)`` for the new snapshot's own fields —
    ``files`` at least; ``None`` aborts without publishing, and
    ``CommitConflict``/``ValueError`` propagate.

    The snapshot carries the :data:`_CARRIED` fields from ``base``;
    ``build``'s fields override them, and a field set to ``None`` drops
    the carried value (an overwrite sheds pending delete files). The
    streaming replay watermark ``stream_batch_id`` is the max of
    base's and build's, so no commit — overwrite, rollback, zorder —
    can lower it; ``total_rows`` is always the sum over ``files``. A lost
    race re-derives the base; ``max_retries`` losses raise."""
    for _ in range(max_retries):
        version = latest_version(table)
        base = None if version is None else load_snapshot(table, version)
        fields = build(base)
        if fields is None:
            return None
        snap = {
            "format_version": FORMAT_VERSION,
            "version": (version or 0) + 1,
            "parent": version,
            "mode": mode,
            **{k: base.get(k) for k in _CARRIED if base},
            **fields,
        }
        marks = {(base or {}).get("stream_batch_id"), fields.get("stream_batch_id")}
        snap["stream_batch_id"] = max(marks - {None}, default=None)
        for k in ("partition_spec", "delete_files", "ivf", "stream_batch_id"):
            if snap.get(k) is None or snap[k] == []:
                snap.pop(k, None)
        snap["total_rows"] = sum(f["rows"] for f in snap["files"])
        if _try_publish(table, snap):
            return snap
    raise CommitConflict(
        f"{mode} lost the commit race {max_retries} times on {table} — "
        "a live writer is outpacing this one"
    )


def _rebase(base: dict, replaced: set[str], new_files: list[dict]) -> list[dict] | None:
    """``base``'s files minus ``replaced`` plus ``new_files``; ``None``
    when a concurrent writer already dropped a replaced file."""
    if not replaced <= {f["path"] for f in base["files"]}:
        return None
    return [f for f in base["files"] if f["path"] not in replaced] + new_files


def _list_versions(table: str) -> list[int]:
    d = os.path.join(table, SNAP_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def latest_version(table: str) -> int | None:
    vs = _list_versions(table)
    return vs[-1] if vs else None


def load_snapshot(table: str, version: int | None = None) -> dict:
    if version is None:
        version = latest_version(table)
        if version is None:
            raise FileNotFoundError(f"no snapshots in {table}")
    with open(_snap_path(table, version)) as f:
        snap = json.load(f)
    if snap.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"snapshot v{version} has format_version "
            f"{snap.get('format_version')!r}, reader supports {FORMAT_VERSION}"
        )
    # large file lists live in a side manifest (Iceberg's manifest
    # list / manifest file split) — inline them transparently; the
    # "files_ref" marker stays so vacuum can reclaim the side file
    if "files_ref" in snap:
        with open(os.path.join(table, SNAP_DIR, snap["files_ref"])) as f:
            side = json.load(f)
        snap["files"] = side["files"]
        if "delete_files" in side:
            snap["delete_files"] = side["delete_files"]
    return snap


def _file_stats(path: str) -> dict:
    """Per-file row count + per-column min/max from the parquet footer —
    the same footer statistics Iceberg lifts into its manifests. Only
    primitive columns with usable stats appear; others are absent and
    simply never prune."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            try:
                s = col.statistics
                if s is None or not s.has_min_max:
                    continue
                mn, mx = s.min, s.max
            except Exception:
                # pyarrow can't extract stats for some physical types
                # (e.g. Spark's INT96 timestamps raise
                # ArrowNotImplementedError) — skip, no-prune fallback
                continue
            name = col.path_in_schema
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            # the manifest is JSON: only JSON-native stat types survive
            # the round trip (pyarrow hands back datetime/date/Decimal
            # objects for timestamp/date/decimal columns — json.dump
            # would crash the whole commit). Unstatted columns already
            # fall back to conservative no-prune, so skipping is safe;
            # timestamp pruning goes through hidden partitioning
            # (days(col)) instead, which stores JSON-native ints.
            if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                continue
            cur = stats.get(name)
            if cur is None:
                stats[name] = [mn, mx]
            else:
                cur[0] = min(cur[0], mn)
                cur[1] = max(cur[1], mx)
    return {"rows": md.num_rows, "stats": stats}


# ---------------------------------------------------------------------------
# Hidden partitioning (Iceberg partition transforms)
# ---------------------------------------------------------------------------
#
# A partition spec is a list of dicts {"name", "col", "transform"[, "n"]}
# stored in every snapshot. Transforms are applied to SOURCE columns at
# write time to derive the layout — the derived value is never a data
# column (readers never see or filter on it), which is exactly Iceberg's
# "hidden partitioning": queries filter on `warc_ts`, the layout prunes
# on `days(warc_ts)`, and nobody can write the Hive mistake of
# forgetting the partition predicate. SURVEY §4 names `days(warc_ts)`
# and `bucket(url)` as this table's pruning story.
#
# Transforms:
#   days   — UTC epoch days from a timestamp (monotonic: range ops prune)
#   bucket — md5-based hash bucket (engine-portable, reproducible in
#            plain Python/DuckDB unlike Spark's murmur3 `hash()`; only
#            `=` / `in` prune — hashing is not monotonic)
#   identity — the raw value

_MONOTONIC_TRANSFORMS = {"days", "identity"}


def _norm_partition_spec(partition_by) -> list[dict]:
    spec = []
    for p in partition_by or []:
        if isinstance(p, str):
            p = (p,)
        col = p[0]
        tr = p[1] if len(p) > 1 else "identity"
        entry = {"col": col, "transform": tr}
        if tr == "bucket":
            entry["n"] = int(p[2])
            entry["name"] = f"{col}_bucket"
        elif tr == "days":
            entry["name"] = f"{col}_day"
        elif tr == "identity":
            entry["name"] = col
        else:
            raise ValueError(f"unknown partition transform {tr!r}")
        spec.append(entry)
    return spec


def _transform_expr(spec: dict):
    """The Spark column computing a partition value at WRITE time."""
    from pyspark.sql import functions as F

    col, tr = spec["col"], spec["transform"]
    if tr == "days":
        # timestamp → double is epoch seconds in UTC regardless of the
        # session timezone (internal representation), so the derived
        # day is deterministic across engines and sessions
        return F.floor(F.col(col).cast("double") / F.lit(86400.0)).cast("long")
    if tr == "bucket":
        return F.pmod(
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
                "long"
            ),
            F.lit(spec["n"]),
        )
    return F.col(col)


def _transform_value(spec: dict, value):
    """The SAME transform applied to a query-side literal, in plain
    Python — must agree exactly with :func:`_transform_expr`."""
    tr = spec["transform"]
    if tr == "days":
        import datetime as _dt

        if isinstance(value, str):
            v = value.strip()
            try:
                value = _dt.datetime.fromisoformat(v)
            except ValueError:
                value = _dt.datetime.strptime(v[:10], "%Y-%m-%d")
        if isinstance(value, _dt.datetime):
            if value.tzinfo is None:
                value = value.replace(tzinfo=_dt.timezone.utc)
            return int(value.timestamp() // 86400)
        if isinstance(value, _dt.date):
            return (value - _dt.date(1970, 1, 1)).days
        return int(float(value) // 86400)  # epoch seconds
    if tr == "bucket":
        import hashlib

        return int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16) % spec["n"]
    return value


def _partition_keeps(spec: dict, pv, op: str, value) -> bool:
    """Can a file whose partition value is ``pv`` contain a row
    matching ``col op value``? Conservative: unknown → keep."""
    if pv is None:
        return True
    tr = spec["transform"]
    if op in ("=",):
        return pv == _transform_value(spec, value)
    if op == "in":
        return pv in {_transform_value(spec, v) for v in value}
    if tr not in _MONOTONIC_TRANSFORMS:
        return True  # bucket can't prune ranges
    if op == ">=":
        return pv >= _transform_value(spec, value)
    if op == "<=":
        return pv <= _transform_value(spec, value)
    if op == "between":
        vlo, vhi = value
        return _transform_value(spec, vlo) <= pv <= _transform_value(spec, vhi)
    return True


def _parse_part_dir(name: str):
    """``name=value`` path component → (name, typed value)."""
    key, _, raw = name.partition("=")
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return key, None
    try:
        return key, int(raw)
    except ValueError:
        from urllib.parse import unquote

        return key, unquote(raw)


def _lift_stats(finals: list[str]) -> list[dict]:
    """Footer row-count + min/max stats for every final data file, read
    by a driver thread pool: footer reads are tiny metadata fetches on
    the shared POSIX filesystem this layer targets. An executor-side
    lift (one Spark job over the path list) lost at every file count
    measured, 64 to 2048 (BENCH.md "Snapshot-commit stats lift")."""
    if not finals:
        return []
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(finals))) as ex:
        return list(ex.map(_file_stats, finals))


def _write_data_files(
    df: DataFrame, table: str, partition_spec: list[dict] | None = None
) -> list[dict]:
    """Executor-parallel parquet write into a private staging dir, then
    driver-side move to write-once unique names under ``data/`` with
    footer stats lifted into manifest entries. Files written here are
    INVISIBLE until some snapshot references them — an abandoned write
    leaves only orphans for vacuum, never a corrupt table.

    With a ``partition_spec``, the hidden transform columns are derived
    just for the write (``partitionBy`` fans each task's rows out into
    one file per partition value and strips the derived column from the
    data files), and each manifest entry records its partition values —
    the layout is invisible to readers except through
    :func:`plan_files` pruning.

    Driver-side steps: :func:`_lift_stats` reads the footers in a
    driver thread pool, and the staging→``data/`` renames run in a
    driver loop. On POSIX a rename is a ~10 µs metadata op, so the loop
    is ~1 s even at 10^5 files; on an object store a "rename" is a copy
    and the honest fix is different — have executor tasks write final
    unique names directly (foreachPartition writer emitting (path,
    rows) instead of Spark's committer staging), which removes the
    staging dir entirely. Documented rather than built: the POSIX
    contract this layer already states (optimistic ``os.link`` commits)
    is the deployment target here, and there renames are cheap."""
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(os.path.join(table, SNAP_DIR), exist_ok=True)
    staging = os.path.join(table, f".staging-{uuid.uuid4().hex[:12]}")
    if partition_spec:
        hidden = [f"__pt_{s['name']}" for s in partition_spec]
        out = df
        for h, s in zip(hidden, partition_spec):
            out = out.withColumn(h, _transform_expr(s))
        out.write.mode("error").partitionBy(*hidden).parquet(staging)
    else:
        df.write.mode("error").parquet(staging)

    finals: list[str] = []
    partitions: list[dict | None] = []

    def _walk(d: str, values: dict) -> None:
        for name in sorted(os.listdir(d)):
            full = os.path.join(d, name)
            if os.path.isdir(full) and "=" in name:
                key, val = _parse_part_dir(name)
                _walk(full, {**values, key.removeprefix("__pt_"): val})
            elif name.endswith(".parquet"):
                final = os.path.join(data_dir, f"{uuid.uuid4().hex}.parquet")
                os.replace(full, final)
                finals.append(final)
                partitions.append(values or None)

    _walk(staging, {})
    stats = _lift_stats(finals)
    new_files = []
    for final, st, pv in zip(finals, stats, partitions):
        entry = {"path": os.path.relpath(final, table), **st}
        if pv is not None:
            entry["partition"] = pv
        new_files.append(entry)
    # remove leftovers (_SUCCESS, emptied partition dirs)
    import shutil

    shutil.rmtree(staging)
    return new_files


def _keep_nonempty(rewritten: list[dict], table: str) -> list[dict]:
    """Drop zero-row rewrite outputs (Iceberg drops empty files): a data
    file whose every row matched a DELETE/MERGE predicate rewrites to an
    empty file — keeping it would bloat manifests and make partition
    listings lie. No snapshot references these yet, so the bytes go
    immediately rather than waiting for vacuum's orphan sweep."""
    for e in rewritten:
        if e["rows"] == 0:
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(table, e["path"]))
    return [e for e in rewritten if e["rows"] > 0]


def _schema(record: dict):
    """The declared schema (``StructType``) of a snapshot or staged
    manifest."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(record["schema_json"]))


def _read_files(spark: SparkSession, table: str, schema, rels) -> DataFrame:
    """The module's one parquet read: ``table``'s files ``rels``
    (manifest-relative paths) with the declared ``schema`` — no
    inference job, and files that lack a column (written before an
    add-column append) null-backfill it. No ``rels`` reads as an empty
    frame of ``schema``."""
    return spark.read.schema(schema).parquet(*(os.path.join(table, r) for r in rels))


def _rewrite_files(
    spark: SparkSession, table: str, snap0: dict, rels, fn
) -> list[dict]:
    """Rewrite ``snap0``'s data files ``rels`` as ``fn(scan)`` — the rows
    to keep — one Spark write per partition group, so the new manifest
    entries keep valid partition values (one group, the common case, is
    one write). Zero-row outputs are dropped."""
    schema = _schema(snap0)
    entry_by_rel = {f["path"]: f for f in snap0["files"]}
    groups: dict[tuple, list[str]] = {}
    for rel in sorted(rels):
        key = tuple(sorted((entry_by_rel[rel].get("partition") or {}).items()))
        groups.setdefault(key, []).append(rel)
    new_files: list[dict] = []
    for key, group in sorted(groups.items()):
        rewritten = _write_data_files(fn(_read_files(spark, table, schema, group)), table)
        if key:
            for e in rewritten:
                e["partition"] = dict(key)
        new_files.extend(_keep_nonempty(rewritten, table))
    return new_files


def _check_append_schema(base: dict, df_schema) -> None:
    """Append-time schema rule (Iceberg add-column evolution): the
    incoming schema must contain every existing column with an
    identical type; NEW columns are allowed (the snapshot schema
    becomes the union, and readers align old files to it with null
    backfill — see :func:`read_table`). Dropping or retyping a column
    on append is still rejected: that is an overwrite/migration."""
    new_fields = {f.name: f.dataType for f in df_schema.fields}
    for f in _schema(base).fields:
        if f.name not in new_fields:
            raise ValueError(
                f"append schema drops column {f.name!r} — appends may only "
                "ADD columns (Iceberg add-column evolution); overwrite or "
                "migrate explicitly"
            )
        if new_fields[f.name] != f.dataType:
            raise ValueError(
                f"append schema retypes column {f.name!r} "
                f"({f.dataType.simpleString()} → "
                f"{new_fields[f.name].simpleString()}) — type promotion is "
                "out of scope; overwrite or migrate explicitly"
            )


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    max_retries: int = 3,
    extra: dict | None = None,
    partition_by: list | None = None,
) -> dict:
    """Write ``df``'s rows as new data files and commit a snapshot.

    ``mode="overwrite"``: the new snapshot references only the new
    files. ``mode="append"``: new files plus every file of the current
    latest snapshot. Either way no existing file is touched — that is
    what makes old versions readable. Returns the committed snapshot.

    ``partition_by`` declares a hidden-partitioning spec, e.g.
    ``[("warc_ts", "days"), ("url", "bucket", 16)]`` (SURVEY §4's
    pruning story): data files are laid out one-per-partition-value and
    the values recorded per file in the manifest, so
    :func:`plan_files` prunes on raw-column predicates without the
    caller ever naming the transform. Appends inherit the table's
    spec; passing a different one is an error.

    Appends may ADD columns (Iceberg schema evolution): the snapshot
    schema becomes the union and readers null-backfill old files; drops
    and retypes are rejected (see :func:`_check_append_schema`).

    The data write itself goes through Spark (executors write parquet
    in parallel into a staging dir); the driver then moves the files
    to write-once unique names, lifts their footer stats, and commits
    through :func:`_commit`. An append re-derives its base from the
    latest snapshot on every attempt; an overwrite drops pending delete
    files and keeps the replay watermark."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    spec = _norm_partition_spec(partition_by) if partition_by else None
    if mode == "append" and latest_version(table) is not None:
        base0 = load_snapshot(table)
        base_spec = base0.get("partition_spec")
        if spec is None:
            spec = base_spec  # appends inherit the table's layout
        elif spec != base_spec:
            raise ValueError(
                "append partition_by differs from the table's spec — "
                "partition evolution on append is not supported; overwrite "
                "with the new spec instead"
            )
        _check_append_schema(base0, df.schema)
    new_files, metrics = _timed_write(df, table, spec)

    def build(base):
        fields = {
            "schema": df.schema.simpleString(),
            "schema_json": df.schema.json(),
            "partition_spec": spec,
            "files": new_files,
            # overwrite drops pending merge-on-read delete files; an
            # append carries them (they constrain the OLD rows; the new
            # rows match them only if genuinely re-inserting a deleted
            # key, Iceberg's own value-equality semantics)
            "delete_files": None,
            # an overwrite's new rows carry no IVF cell assignment
            "ivf": None,
            **metrics,
            **(extra or {}),
        }
        if mode == "append" and base is not None:
            _check_append_schema(base, df.schema)
            fields["files"] = base["files"] + new_files
            del fields["delete_files"], fields["ivf"]
        return fields

    return _commit(table, mode, build, max_retries)


def _timed_write(
    df: DataFrame, table: str, spec: list[dict] | None
) -> tuple[list[dict], dict]:
    """:func:`_write_data_files` plus the write-throughput keys for the
    NEW files (north-rule: metrics live in the manifest) — stamped
    before the atomic publish, never edited after."""
    import time as _time

    t0 = _time.time()
    new_files = _write_data_files(df, table, spec)
    secs = round(_time.time() - t0, 3)
    rows = sum(f["rows"] for f in new_files)
    return new_files, {
        "write_seconds": secs,
        "new_rows": rows,
        "rows_per_sec": round(rows / secs, 2) if secs > 0 else None,
    }


def commit_stream_batch(df: DataFrame, table: str, batch_id: int) -> dict | None:
    """Exactly-once ``foreachBatch`` sink: append ``df`` as a new
    snapshot stamped with the Structured Streaming ``batch_id``.

    A replayed micro-batch (restart after a crash between the data
    write and the checkpoint commit) arrives with a batch_id ≤ the one
    recorded in the table's latest snapshot — detected here and turned
    into a no-op ``None``, so the table never double-appends. That is
    Iceberg's streaming-sink idempotence contract (snapshot summary
    carries the epoch id); it assumes ONE streaming writer per table
    (same restriction as Iceberg's single-committer-per-stream). The
    batch's data must itself be replay-deterministic, which Structured
    Streaming guarantees for replayable sources.

    Every commit carries the watermark forward and none lowers it (see
    :func:`_commit`), so the latest snapshot alone holds it: one
    snapshot load whatever the table's history, and no overwrite,
    rollback, maintenance pass or vacuum can reset the replay guard."""
    if latest_version(table) is not None:
        last = load_snapshot(table).get("stream_batch_id")
        if last is not None and batch_id <= last:
            return None  # replayed batch — already committed
    return write_table(
        df, table, mode="append", extra={"stream_batch_id": batch_id}
    )


def delete_rows(
    spark: SparkSession,
    table: str,
    condition: str,
    prune: tuple[str, str, object] | None = None,
) -> dict | None:
    """Copy-on-write row-level DELETE (Iceberg's copy-on-write mode —
    the first real-table capability a production corpus hits:
    takedowns, GDPR erasure). ``condition`` is a SQL boolean expression
    over the table's columns; rows matching it are removed from the
    NEW snapshot. Old snapshots still time-travel to the original
    files until :func:`vacuum`.

    Scale shape (VERDICT r05 ask #3):

    1. **Metadata prune**: ``prune`` (same ``(col, op, value)`` grammar
       as :func:`plan_files`) cuts candidate files via manifest stats
       before any data I/O — a targeted delete on a 10^12-row table
       opens only the files whose range can match.
    2. **Touch detection**: one scan of the candidates, predicate
       pushed down, grouped by each row's data file — yields the
       (small) set of files that actually contain matching rows and
       the per-file match counts. Files with zero matches are carried
       into the new snapshot UNTOUCHED (no rewrite amplification).
    3. **Rewrite**: only touched files are re-read and rewritten minus
       matching rows (executor-parallel, same write path as any
       commit).
    4. **Commit**: each :func:`_commit` attempt re-bases on the latest;
       if a concurrent writer dropped any touched file (overwrite /
       compaction / another delete), this delete ABORTS with ``None``
       rather than resurrecting stale data — same contract as
       :func:`compact`.

    Returns the committed snapshot, or ``None`` when no row matches or
    the base moved underneath. The streaming replay watermark is
    carried forward (deletes are maintenance, not new batches).

    On a partitioned table the rewrite happens per partition group
    (touched files of one partition value rewritten together) so the
    new files keep valid partition values in the manifest."""
    return _cow_rewrite(
        spark,
        table,
        condition,
        prune,
        transform=lambda df, cond: df.where(~cond),
        mode="delete",
        summary=lambda n: {"delete_condition": condition, "deleted_rows": n},
    )


def update_rows(
    spark: SparkSession,
    table: str,
    condition: str,
    set_exprs: dict[str, str],
    prune: tuple[str, str, object] | None = None,
) -> dict | None:
    """Copy-on-write row-level UPDATE — rows matching ``condition``
    have each column in ``set_exprs`` replaced by its SQL expression
    (evaluated per row, cast back to the column's declared type so the
    table schema can never drift); all other rows and columns pass
    through unchanged. Completes the DML triad with :func:`delete_rows`
    and :func:`merge_rows`, sharing their exact machinery: stats-pruned
    candidates, touch detection, rewrite of ONLY the files containing
    matches (per partition group), optimistic commit with
    concurrent-writer abort."""
    from pyspark.sql import functions as F

    types = {f.name: f.dataType for f in _schema(load_snapshot(table)).fields}
    for c in set_exprs:
        if c not in types:
            raise ValueError(f"SET column {c!r} is not a table column")

    def transform(df, cond):
        out = df
        for c, e in set_exprs.items():
            out = out.withColumn(
                c, F.when(cond, F.expr(e).cast(types[c])).otherwise(F.col(c))
            )
        return out

    return _cow_rewrite(
        spark,
        table,
        condition,
        prune,
        transform=transform,
        mode="update",
        summary=lambda n: {
            "update_condition": condition,
            "set_exprs": dict(set_exprs),
            "updated_rows": n,
        },
    )


def _cow_rewrite(
    spark: SparkSession,
    table: str,
    condition: str,
    prune: tuple[str, str, object] | None,
    transform,
    mode: str,
    summary,
) -> dict | None:
    """Shared copy-on-write machinery for DELETE and UPDATE: metadata
    prune → :func:`_touched` detection → per-partition-group rewrite via
    ``transform(df, cond)`` → :func:`_commit` on the re-based file list.
    ``summary(n_matched)`` supplies the mode-specific manifest keys."""
    snap0 = load_snapshot(table)
    _refuse_positional(snap0)
    cands = _pruned(snap0, prune)
    if not cands:
        return None
    from pyspark.sql import functions as F

    cond = F.expr(condition)
    scan = _with_row_provenance(_read_files(spark, table, _schema(snap0), cands))
    touched = _touched(scan.where(cond))
    if not touched:
        return None  # nothing matches: no-op, no new snapshot
    touched_rel = set(touched)
    n_matched = sum(touched.values())
    new_files = _rewrite_files(
        spark, table, snap0, touched_rel, lambda scan: transform(scan, cond)
    )

    def build(base):
        files = _rebase(base, touched_rel, new_files)
        if files is None:
            return None  # concurrent writer dropped a touched file
        _check_rewrite_base(table, snap0, base)
        # pending MOR delete files still constrain the (rewritten) rows
        # — they apply by value, not by file identity — so they carry
        return {"files": files, **summary(n_matched), "rewritten": sorted(touched_rel)}

    return _commit(table, mode, build)


def delete_rows_mor(spark: SparkSession, table: str, keys: DataFrame) -> dict:
    """MERGE-ON-READ equality DELETE (Iceberg v2's other delete mode):
    instead of rewriting every file containing a match (copy-on-write,
    :func:`delete_rows`), commit only a small DELETE FILE holding the
    key values; readers anti-join it at scan time and
    :func:`apply_deletes` materializes it away later. Commit cost is
    O(|keys|) regardless of how scattered the matches are — at 100 TB
    a takedown list of 10^6 urls touching 10^5 files costs a 10^6-row
    parquet write here versus 10^5 file rewrites under CoW; the read
    tax (one broadcast anti-join per scan) is paid until the next
    maintenance pass.

    ``keys``' columns ARE the equality columns (Iceberg's equality
    field ids). Semantics: a data row is deleted iff its values match
    a key row — applied BY VALUE at read, so run :func:`apply_deletes`
    before an UPDATE that modifies an equality column (the value-match
    would otherwise no longer find the dead row). Appends, CoW
    rewrites, compaction and merges all carry pending delete files
    forward; overwrite drops them (new table contents).

    Returns the committed snapshot (mode ``delete-mor``)."""
    eq_cols = list(keys.columns)
    delete_entries = _write_data_files(keys.distinct(), table)
    for e in delete_entries:
        e["equality_cols"] = eq_cols

    def build(base):
        if base is None:
            raise FileNotFoundError(f"no snapshots in {table}")
        # exact field names from schema_json, not a substring probe of
        # the simpleString (ADVICE r06: 'id' would false-match 'doc_id'
        # and commit a delete file that breaks every subsequent read)
        missing = sorted(set(eq_cols) - set(_schema(base).fieldNames()))
        if missing:
            raise ValueError(f"equality columns {missing} not in table schema")
        return {
            "files": base["files"],
            "delete_files": (base.get("delete_files") or []) + delete_entries,
        }

    return _commit(table, "delete-mor", build)


def delete_rows_positional(spark: SparkSession, table: str, condition: str) -> dict | None:
    """MERGE-ON-READ POSITIONAL delete (Iceberg v2 position delete
    files): evaluate ``condition`` once against the current snapshot,
    record the matching rows' (file_path, row_pos) coordinates in a
    delete file, and commit — readers anti-join on the coordinates.
    Complements :func:`delete_rows_mor`: equality deletes kill rows BY
    VALUE (every current and physically-duplicated copy), positional
    deletes kill exactly the row INSTANCES that matched at delete
    time — the semantics row-level compliance workflows want when the
    same value legitimately recurs (two crawls of one url), and what
    engines emit from a join-based MERGE.

    Contract: the coordinates are only valid against the data files
    they name, so every file-REWRITING operation (CoW delete/update,
    merge, compact) refuses while positional deletes are pending —
    run :func:`apply_deletes` first (Iceberg's rewrite_data_files
    forces the same maintenance ordering); :func:`zorder_table`
    already reads post-filter and overwrites, materializing them away.
    Scale: the predicate scan is one distributed pass (no collect of
    data rows), the delete file is O(matches), commit is O(1) files.

    Returns the committed snapshot (mode ``delete-pos``), or None when
    nothing matches."""
    from pyspark.sql import functions as F

    snap0 = load_snapshot(table)
    rels = [f["path"] for f in snap0["files"]]
    if not rels:
        return None
    scan = _with_row_provenance(_read_files(spark, table, _schema(snap0), rels))
    # don't tombstone rows an earlier delete already killed
    scan = _apply_mor_deletes(spark, table, scan, snap0)
    matches = scan.where(F.expr(condition)).select(
        F.col("_fp").alias("file_path"), F.col("_ri").alias("row_pos")
    )
    delete_entries = _write_data_files(matches, table)
    delete_entries = [e for e in delete_entries if e["rows"] > 0]
    if not delete_entries:
        return None
    for e in delete_entries:
        e["positional"] = True
    scanned = {f["path"] for f in snap0["files"]}

    def build(base):
        # concurrent appends only ADD files (coordinates stay valid);
        # a rewrite of any scanned file invalidates them
        if _rebase(base, scanned, []) is None:
            raise CommitConflict(
                f"data files rewritten under positional delete on {table}; recompute"
            )
        return {
            "files": base["files"],
            "delete_files": (base.get("delete_files") or []) + delete_entries,
        }

    return _commit(table, "delete-pos", build)


def _has_positional(snap: dict) -> bool:
    return any(e.get("positional") for e in snap.get("delete_files") or [])


def _refuse_positional(snap: dict) -> None:
    """File-rewriting operations refuse while positional deletes are
    pending: a rewrite would leave their coordinates dangling."""
    if _has_positional(snap):
        raise ValueError(
            "pending positional delete files — their (file, row_pos) "
            "coordinates would dangle after a rewrite; run apply_deletes first"
        )


def _check_rewrite_base(table: str, snap0: dict, base: dict) -> None:
    """Guard a rewrite commit (CoW delete/update, merge, compact)
    against delete files that landed BETWEEN planning on ``snap0`` and
    publishing on ``base`` (ADVICE r06 medium, TOCTOU): a positional
    delete committed mid-flight carries (file, row_pos) coordinates
    naming files this commit is about to drop — carrying it forward
    silently resurrects the deleted rows (the read-time anti-join
    would match nothing). Mirror the entry-time refusal: abort the
    commit instead of publishing."""
    plan_dels = {e.get("path") for e in snap0.get("delete_files") or []}
    base_dels = {e.get("path") for e in base.get("delete_files") or []}
    if _has_positional(base) or not base_dels <= plan_dels:
        raise CommitConflict(
            f"delete files committed on {table} between rewrite planning "
            "and publish; rerun the rewrite against the new base"
        )


# positional delete files hold the (file, row position) of each dead row
_POSITIONAL_SCHEMA = "file_path string, row_pos long"


def _with_row_provenance(df: DataFrame) -> DataFrame:
    """Attach (_fp, _ri) = (manifest-relative file path, row position)
    from the parquet reader's ``_metadata`` struct — the key a
    positional anti-join and :func:`_touched` group on. Every data file
    lies flat under ``data/`` (:func:`_write_data_files`), so the
    manifest path is ``data/`` + the file name. ``df`` must be a scan
    (filters may sit on top, joins may not: ``_metadata`` does not
    resolve through a join's output)."""
    from pyspark.sql import functions as F

    return df.select(
        "*",
        F.concat(F.lit("data/"), F.col("_metadata.file_name")).alias("_fp"),
        F.col("_metadata.row_index").alias("_ri"),
    )


def _touched(df: DataFrame) -> dict[str, int]:
    """``{rel: n}``: how many of ``df``'s rows each data file holds.
    ``df`` is a filtered, joined or anti-joined scan carrying
    :func:`_with_row_provenance`'s ``_fp``; files with no row are
    absent."""
    from pyspark.sql import functions as F

    rows = df.groupBy("_fp").agg(F.count(F.lit(1)).alias("n")).collect()
    return {r["_fp"]: r["n"] for r in rows}


def _apply_mor_deletes(spark: SparkSession, table: str, df: DataFrame, snap: dict) -> DataFrame:
    """Anti-join ``snap``'s pending delete files into a scan of its data
    files — the merge-on-read read tax; with none pending ``df`` comes
    back as it is. Equality entries group by their column set (one
    anti-join per distinct set, applied BY VALUE; the delete files are
    read with those columns' table types); positional entries (Iceberg
    v2's other flavor) anti-join on (file, row position). When
    positional entries are pending and ``df`` carries no provenance,
    it is attached here and dropped again. Key sets are small by the
    mode's design, so Spark broadcasts them."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    groups: dict[tuple, list[str]] = {}
    pos_rels: list[str] = []
    for e in snap.get("delete_files") or []:
        if e.get("positional"):
            pos_rels.append(e["path"])
        else:
            groups.setdefault(tuple(e["equality_cols"]), []).append(e["path"])
    added = ["_fp", "_ri"] if pos_rels and "_fp" not in df.columns else []
    if added:
        df = _with_row_provenance(df)
    schema = _schema(snap)
    for cols, rels in sorted(groups.items()):
        key_schema = StructType([schema[c] for c in cols])
        dels = _read_files(spark, table, key_schema, rels).distinct()
        df = df.join(F.broadcast(dels), list(cols), "left_anti")
    if pos_rels:
        dels = (
            _read_files(spark, table, _POSITIONAL_SCHEMA, pos_rels)
            .select(F.col("file_path").alias("_fp"), F.col("row_pos").alias("_ri"))
            .distinct()
        )
        df = df.join(F.broadcast(dels), ["_fp", "_ri"], "left_anti")
    return df.drop(*added)


def apply_deletes(spark: SparkSession, table: str) -> dict | None:
    """Materialize pending merge-on-read delete files: rewrite the data
    files minus matching rows and commit a snapshot with no
    ``delete_files`` — ending the per-scan anti-join tax (Iceberg's
    rewrite_position/equality_deletes maintenance action). Touch
    detection narrows the rewrite to files that actually hold matches,
    exactly like CoW delete. Returns the committed snapshot, or None
    when nothing is pending or the base moved underneath."""
    snap0 = load_snapshot(table)
    pending = snap0.get("delete_files") or []
    if not pending:
        return None
    rels = [f["path"] for f in snap0["files"]]
    scan = _with_row_provenance(_read_files(spark, table, _schema(snap0), rels))
    # touched = files holding at least one deleted row: files whose
    # surviving-row count (after the anti-joins) differs from their
    # manifest row count
    survivors = _touched(_apply_mor_deletes(spark, table, scan, snap0))
    touched_rel = {
        e["path"]
        for e in snap0["files"]
        if survivors.get(e["path"], 0) != e["rows"]
    }
    new_files = _rewrite_files(
        spark, table, snap0, touched_rel,
        lambda scan: _apply_mor_deletes(spark, table, scan, snap0),
    )

    def build(base):
        if (base.get("delete_files") or []) != pending:
            return None  # new deletes landed meanwhile — replan
        files = _rebase(base, touched_rel, new_files)
        if files is None:
            return None
        return {
            "files": files,
            "delete_files": None,
            "applied_delete_files": [e["path"] for e in pending],
            "rewritten": sorted(touched_rel),
        }

    return _commit(table, "apply-deletes", build)


def _overlaps(lo, hi, op: str, value) -> bool:
    if op == "=":
        return lo <= value <= hi
    if op == ">=":
        return hi >= value
    if op == "<=":
        return lo <= value
    if op == "between":
        vlo, vhi = value
        return lo <= vhi and hi >= vlo
    if op == "in":  # value: iterable of candidates (IVF probe sets etc.)
        return any(lo <= v <= hi for v in value)
    raise ValueError(f"unsupported prune op {op!r}")


def plan_files(
    table: str,
    version: int | None = None,
    prune: tuple[str, str, object] | None = None,
) -> tuple[dict, list[str]]:
    """Scan planning: (snapshot, file paths to read). ``prune`` is
    ``(column, op, value)`` with op ∈ {=, >=, <=, between, in}; files
    whose footer [min, max] for that column cannot contain a match are
    skipped WITHOUT touching them. Files lacking stats for the column
    are conservatively kept.

    When the snapshot carries a partition spec whose SOURCE column is
    the pruned column, partition-value pruning composes (AND) with the
    footer stats: the predicate's literal is pushed through the same
    transform (``days``/``bucket``) and compared against each file's
    recorded partition value — hidden partitioning, the caller names
    only the raw column. Either screen alone suffices to drop a file;
    a file must pass both to be read. Timestamp columns, whose footer
    stats are not lifted (non-JSON-native), prune purely through their
    ``days`` partition value."""
    snap = load_snapshot(table, version)
    return snap, [os.path.join(table, rel) for rel in _pruned(snap, prune)]


def _pruned(snap: dict, prune: tuple[str, str, object] | None) -> list[str]:
    """The manifest paths of ``snap``'s files that :func:`plan_files`
    keeps for ``prune``."""
    part_specs = {s["col"]: s for s in snap.get("partition_spec") or []}
    chosen = []
    for entry in snap["files"]:
        if prune is not None:
            col, op, value = prune
            s = entry.get("stats", {}).get(col)
            if s is not None and not _overlaps(s[0], s[1], op, value):
                continue
            spec = part_specs.get(col)
            if spec is not None:
                pv = (entry.get("partition") or {}).get(spec["name"])
                if not _partition_keeps(spec, pv, op, value):
                    continue
        chosen.append(entry["path"])
    return chosen


def read_table(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: tuple[str, str, object] | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default; ``version=`` time-travels;
    ``ref=`` reads what a named tag/branch points at — Iceberg's
    ``VERSION AS OF 'ref'``).
    ``prune`` cuts the file list via manifest stats + partition values
    before Spark plans the scan — the predicate itself must still be
    applied by the caller's ``.where`` (stats pruning is a superset
    guarantee, exactly like Iceberg's).

    The read always uses the SNAPSHOT's schema, not inference: after an
    add-column append, files written before the evolution lack the new
    column and the explicit schema null-backfills it (Iceberg's
    read-time schema alignment). Pending merge-on-read delete files
    (:func:`delete_rows_mor`) are applied as broadcast anti-joins —
    the MOR read tax, removed by :func:`apply_deletes`."""
    if ref is not None:
        if version is not None:
            raise ValueError("pass version= or ref=, not both")
        version = resolve_ref(table, ref)
    return read_snapshot(spark, table, load_snapshot(table, version), prune)


def read_snapshot(
    spark: SparkSession, table: str, snap: dict, prune: tuple[str, str, object] | None = None
) -> DataFrame:
    """:func:`read_table` of a snapshot the caller already loaded — a
    reader that needs the snapshot's own fields (centroids, version)
    reads it without loading its JSON again."""
    df = _read_files(spark, table, _schema(snap), _pruned(snap, prune))
    return _apply_mor_deletes(spark, table, df, snap)


def read_incremental(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows ADDED between two snapshots — Iceberg's incremental append
    scan, the batch-consumer twin of the streaming sink: a downstream
    job that processed the table at ``from_version`` catches up by
    reading exactly the files later appends introduced, never
    re-scanning the base (at 10^12 rows a full rescan per consumption
    cycle is the difference between minutes and days).

    Defined only over an append-only lineage: every snapshot on the
    parent chain ``(from_version, to_version]`` must have mode
    ``append`` (overwrite/delete/compact change or rewrite existing
    rows — "what was added" stops being well-defined, and Iceberg's
    incremental scan rejects those the same way). Raises ValueError on
    a non-append snapshot or a broken (vacuumed) chain. Files are
    compared by manifest identity (write-once names), not content."""
    if to_version is None:
        to_version = latest_version(table)
        if to_version is None:
            raise FileNotFoundError(f"no snapshots in {table}")
    if to_version < from_version:
        raise ValueError(f"to_version {to_version} < from_version {from_version}")
    to_snap = load_snapshot(table, to_version)
    v = to_version
    while v != from_version:
        try:
            snap = load_snapshot(table, v)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot chain broken at v{v} (vacuumed?) — incremental "
                f"read from v{from_version} is not reconstructible"
            )
        if v != from_version and snap["mode"] != "append":
            raise ValueError(
                f"snapshot v{v} is mode={snap['mode']!r}; incremental reads "
                "are defined only over append-only lineages"
            )
        if snap["parent"] is None or snap["parent"] < from_version:
            raise ValueError(
                f"v{from_version} is not on v{to_version}'s parent chain"
            )
        v = snap["parent"]
    base_rels = {f["path"] for f in load_snapshot(table, from_version)["files"]}
    new_rels = [f["path"] for f in to_snap["files"] if f["path"] not in base_rels]
    return _read_files(spark, table, _schema(to_snap), new_rels)


CONSUMER_DIR = "_consumers"


def _offset_path(table: str, group: str) -> str:
    safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in group)
    return os.path.join(table, CONSUMER_DIR, f"{safe}.json")


def consumer_offset(table: str, group: str) -> int | None:
    """The last version consumer ``group`` acknowledged, or None."""
    try:
        with open(_offset_path(table, group)) as f:
            return json.load(f)["version"]
    except FileNotFoundError:
        return None


def consume_appends(
    spark: SparkSession, table: str, group: str
) -> tuple[DataFrame, int] | None:
    """At-least-once incremental consumption with a durable per-group
    offset — the consumer twin of :func:`commit_stream_batch`'s
    exactly-once producer (together: the table doubles as a log, the
    Kafka-consumer-group pattern over table metadata that real
    pipelines use to chain jobs without a broker).

    Returns ``(df, to_version)`` where ``df`` is everything appended
    after the group's last acknowledged version (the FULL current
    snapshot on a group's first call — the bootstrap read), or ``None``
    when the group is caught up. The caller processes ``df`` and then
    calls :func:`ack_consumed` with ``to_version``; a crash before the
    ack simply replays the window on the next call (at-least-once —
    make the downstream write idempotent, e.g. another snaptable with
    ``commit_stream_batch`` semantics). Raises ValueError if the
    lineage between offset and head contains a non-append snapshot
    (overwrite/delete/compact): incremental semantics are void there —
    reset the group (delete its offset file) to re-bootstrap."""
    head = latest_version(table)
    if head is None:
        return None
    last = consumer_offset(table, group)
    if last is None:
        return read_table(spark, table, version=head), head
    if last >= head:
        return None
    return read_incremental(spark, table, from_version=last, to_version=head), head


def ack_consumed(table: str, group: str, version: int) -> None:
    """Durably advance ``group``'s offset to ``version`` (atomic
    replace — torn writes can't corrupt the offset). Offsets only move
    forward; a stale ack (≤ current) is a no-op, so replayed
    processing after a crash cannot rewind the group."""
    cur = consumer_offset(table, group)
    if cur is not None and version <= cur:
        return
    _write_json(
        _offset_path(table, group), {"group": group, "version": version}, exclusive=False
    )


def merge_rows(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key_cols: list[str],
) -> dict | None:
    """Copy-on-write MERGE (upsert): every table row whose key matches
    a ``source`` row is replaced by that source row; source rows with
    unmatched keys are inserted. Completes the table's DML triad
    (append / delete / merge) — the CDC-apply path a production corpus
    needs for re-crawled pages (same url, new content).

    ``source`` must be key-unique (one row per key — Iceberg's MERGE
    raises on multiple matches for the same reason; enforced here with
    one small aggregation on the source).

    Scale shape mirrors :func:`delete_rows`: one semi-join scan of the
    table grouped by each row's data file finds the files holding
    matched keys (Spark broadcasts the key set when small); only those
    files are rewritten (matched rows anti-joined away, per partition
    group); the FULL source lands as new files through the normal
    partitioned write path. Untouched files carry over by manifest
    identity. Commit aborts with ``None`` if a concurrent writer
    dropped a planned file."""
    from pyspark.sql import functions as F

    dup = (
        source.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"source is not key-unique on {key_cols}: e.g. "
            + ", ".join(f"{k}={dup[0][k]!r}" for k in key_cols)
        )
    snap0 = load_snapshot(table)
    _refuse_positional(snap0)
    _check_append_schema(snap0, source.schema)
    schema = _schema(snap0)
    rels = [f["path"] for f in snap0["files"]]
    keys = source.select(*key_cols).distinct()
    scan = _with_row_provenance(_read_files(spark, table, schema, rels))
    touched = _touched(scan.join(keys, key_cols, "left_semi"))
    touched_rel = set(touched)
    n_updated = sum(touched.values())
    new_files = _rewrite_files(
        spark, table, snap0, touched_rel,
        lambda scan: scan.join(keys, key_cols, "left_anti"),
    )
    # the whole source (updates + inserts) goes through the normal
    # partitioned write path, so inserts land with correct layout;
    # aligned to the TABLE's schema and column order (extra source
    # columns would be evolution — do that with an append first)
    src_aligned = source.select(*[f.name for f in schema.fields])
    new_files.extend(_write_data_files(src_aligned, table, snap0.get("partition_spec")))

    def build(base):
        files = _rebase(base, touched_rel, new_files)
        if files is None:
            return None  # concurrent writer dropped a touched file
        _check_rewrite_base(table, snap0, base)
        return {
            "files": files,
            "merge_keys": list(key_cols),
            "updated_rows": n_updated,
            "rewritten": sorted(touched_rel),
        }

    return _commit(table, "merge", build)


def compact(spark: SparkSession, table: str, target_rows: int = 1_000_000) -> dict | None:
    """Bin-pack small data files into ~``target_rows`` files and commit
    the result as a new snapshot — Iceberg's rewrite_data_files,
    the answer to the small-files problem that per-batch streaming
    commits accumulate (every ``commit_stream_batch`` adds a file; a
    year of micro-batches is 10^5 files whose open/plan overhead
    eventually dwarfs the data).

    Rewrites ONLY files with fewer than ``target_rows`` rows; row
    content is unchanged (same rows, fewer files) so readers see no
    data difference, and the PRE-compaction snapshot still
    time-travels to the original files until vacuum. Concurrency: each
    :func:`_commit` attempt re-bases on the latest snapshot (latest
    files − compacted + new); if a concurrent
    overwrite/compaction removed any of the planned files, the
    compaction aborts with ``None`` rather than resurrecting them.
    Returns the committed snapshot, or None when there is nothing to
    do (fewer than two small files in any partition group) or the base
    moved underneath.

    On a partitioned table, bin-packing happens WITHIN each partition
    group (files of one partition value merge only with each other —
    merging across would destroy the layout's pruning guarantee), and
    the group's partition values are stamped onto the rewritten
    entries. Iceberg's rewrite_data_files has the same per-partition
    grouping."""
    snap = load_snapshot(table)
    _refuse_positional(snap)
    groups: dict[tuple, list[dict]] = {}
    for f in snap["files"]:
        if f["rows"] < target_rows:
            key = tuple(sorted((f.get("partition") or {}).items()))
            groups.setdefault(key, []).append(f)
    groups = {k: v for k, v in groups.items() if len(v) >= 2}
    if not groups:
        return None
    new_files: list[dict] = []
    small_set: set[str] = set()
    for _, entries in sorted(groups.items()):
        rels = {f["path"] for f in entries}
        small_set |= rels
        n_out = max(1, -(-sum(f["rows"] for f in entries) // target_rows))  # ceil
        new_files += _rewrite_files(
            spark, table, snap, rels, lambda scan: scan.coalesce(n_out)
        )

    def build(base):
        files = _rebase(base, small_set, new_files)
        if files is None:
            return None  # a concurrent writer dropped some planned file
        _check_rewrite_base(table, snap, base)
        return {"files": files, "compacted": sorted(small_set)}

    return _commit(table, "compact", build)


def zorder_table(
    spark: SparkSession,
    table: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 16,
) -> dict:
    """Rewrite the current snapshot clustered by the Morton (Z-order)
    interleaving of ``cols`` — Delta/Iceberg's ``ZORDER BY``
    maintenance action, the layout that makes MULTI-column pruning
    work: range-partitioning on one column gives that column tight
    per-file [min, max] and leaves every other column's spread full,
    so predicates on the second column prune nothing. Interleaving the
    bits of all ``cols`` into one sort key gives every listed column
    locality, so each file's footer stats are tight on ALL of them and
    :func:`plan_files` prunes on any one (pytest pins the file-subset
    claim on both axes).

    Numeric/timestamp columns only (min-max normalized to ``bits``-bit
    integer ranks in one scalar aggregation — the standard
    linear-scaling approach; ``bits × len(cols)`` must fit in 63).
    Rows are unchanged except that pending merge-on-read deletes are
    materialized away (the rewrite reads post-filter rows — a z-order
    pass doubles as ``apply_deletes``). Commits as a normal overwrite
    snapshot (mode ``overwrite``, ``zorder`` recorded in the manifest)
    that keeps the table's partition spec and replay watermark; the
    pre-zorder version still time-travels. A commit that lands while the
    rewrite runs makes it raise ``CommitConflict`` — rerun it."""
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError(f"bits*len(cols) = {bits * len(cols)} exceeds 63")
    base_snap = load_snapshot(table)
    planned = base_snap["version"]
    df = read_snapshot(spark, table, base_snap)
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    scale = float((1 << bits) - 1)
    z = None
    for ci, c in enumerate(cols):
        mn, mx = row[f"_mn_{c}"], row[f"_mx_{c}"]
        span = (float(mx) - float(mn)) or 1.0
        rank = F.floor(
            (F.col(c).cast("double") - F.lit(float(mn))) / F.lit(span) * F.lit(scale)
        ).cast("long")
        for b in range(bits):
            term = F.shiftleft(
                F.shiftright(rank, b).bitwiseAND(F.lit(1)), b * len(cols) + ci
            )
            z = term if z is None else z + term  # disjoint bits: + is OR
    clustered = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    new_files, metrics = _timed_write(clustered, table, base_snap.get("partition_spec"))

    def build(base):
        # the rewrite holds exactly v{planned}'s rows: publishing it over
        # a later commit would silently drop that commit's rows
        if base["version"] != planned:
            raise CommitConflict(
                f"{table} moved past v{planned} during zorder; rerun it"
            )
        return {
            "schema": clustered.schema.simpleString(),
            "schema_json": clustered.schema.json(),
            "files": new_files,
            "delete_files": None,  # materialized by the post-filter read
            **metrics,
            "zorder": list(cols),
            "zorder_bits": bits,
        }

    return _commit(table, "overwrite", build)


def vacuum(
    table: str, keep_versions: int = 1, orphan_grace_seconds: float = 3600.0
) -> list[str]:
    """Drop snapshots older than the newest ``keep_versions`` and
    delete data files no retained snapshot references. Returns deleted
    file paths. Time travel reaches only retained versions afterwards —
    the Iceberg expire-snapshots contract.

    Also sweeps TRUE orphans: files under ``data/`` referenced by NO
    snapshot at all (abandoned writes — a commit that lost the
    race ``max_retries`` times, or a crash between ``_write_data_files``
    and the commit leave staged-then-moved files that no manifest ever
    named; ADVICE r05). Those never age out via snapshot expiry, so
    without this sweep they leak forever. An ``orphan_grace_seconds``
    mtime threshold protects in-flight commits (files already moved to
    ``data/`` whose snapshot is about to be published) — Iceberg's
    remove_orphan_files has the identical ``older_than`` guard."""
    import time as _time

    def _all_rels(snap: dict) -> list[str]:
        # data files AND merge-on-read delete files are both
        # snapshot-referenced disk state
        return [f["path"] for f in snap["files"]] + [
            e["path"] for e in snap.get("delete_files") or []
        ]

    versions = _list_versions(table)
    deleted: list[str] = []
    # tags/branches PIN their target snapshot (Iceberg expire-snapshots
    # respects refs): a version outside the keep window survives while
    # any ref points at it
    pinned = {r["version"] for r in list_refs(table).values()}
    keep_set = set(versions[-keep_versions:]) | (pinned & set(versions))
    drop = [v for v in versions if v not in keep_set]
    if drop:
        keep = sorted(keep_set)
        referenced = set()
        for v in keep:
            referenced.update(_all_rels(load_snapshot(table, v)))
        for v in drop:
            s_v = load_snapshot(table, v)
            for rel in _all_rels(s_v):
                if rel not in referenced:
                    full = os.path.join(table, rel)
                    if os.path.exists(full):
                        os.unlink(full)
                    deleted.append(rel)
                    referenced.add(rel)  # don't double-delete across drops
            if "files_ref" in s_v:  # the dropped version's side manifest
                side = os.path.join(table, SNAP_DIR, s_v["files_ref"])
                if os.path.exists(side):
                    os.unlink(side)
            os.unlink(_snap_path(table, v))
    # orphan sweep: anything in data/ no RETAINED snapshot references
    # and old enough that no in-flight commit can still be about to
    # reference it; STAGED (write-audit-publish) files are referenced
    # by their staging manifest — protected until published or dropped
    retained_refs = set()
    for v in _list_versions(table):
        retained_refs.update(_all_rels(load_snapshot(table, v)))
    for w in list_staged(table):
        retained_refs.update(f["path"] for f in load_staged(table, w)["files"])
    data_dir = os.path.join(table, "data")
    now = _time.time()
    if os.path.isdir(data_dir):
        for name in sorted(os.listdir(data_dir)):
            rel = os.path.join("data", name)
            full = os.path.join(data_dir, name)
            if rel in retained_refs or not os.path.isfile(full):
                continue
            if now - os.path.getmtime(full) < orphan_grace_seconds:
                continue  # possibly an in-flight commit's file
            os.unlink(full)
            deleted.append(rel)
    # side-manifest orphans (ADVICE r06): a crash between writing
    # m-*.json and the os.link publish leaves an unreferenced side
    # manifest (and .tmp) in _snapshots/ forever — the data sweep above
    # only scans data/. Same retained-reference + mtime-grace contract.
    snap_dir = os.path.join(table, SNAP_DIR)
    if os.path.isdir(snap_dir):
        side_refs = set()
        for v in _list_versions(table):
            ref = load_snapshot(table, v).get("files_ref")
            if ref:
                side_refs.add(ref)
        for name in sorted(os.listdir(snap_dir)):
            is_side = name.startswith("m-") and name.endswith(".json")
            is_tmp = name.startswith(".") and name.endswith(".tmp")
            if not (is_side or is_tmp) or (is_side and name in side_refs):
                continue
            full = os.path.join(snap_dir, name)
            if not os.path.isfile(full):
                continue
            if now - os.path.getmtime(full) < orphan_grace_seconds:
                continue
            os.unlink(full)
            deleted.append(os.path.join(SNAP_DIR, name))
    return deleted


# ---------------------------------------------------------------------------
# Named refs (tags / branches), rollback, and write-audit-publish.
#
# Iceberg semantics throughout: a TAG is an immutable named pointer to a
# snapshot (release pinning — "the corpus we trained run 47 on"); a
# BRANCH is a movable pointer (an environment — "prod reads `serving`");
# ROLLBACK is a new commit that restores an older snapshot's file set
# (metadata-only, the audit trail keeps both); WRITE-AUDIT-PUBLISH
# stages an append invisibly, lets a validation job read exactly the
# incoming files, and publishes (or drops) them atomically — Iceberg's
# `spark.wap.id` workflow. No reference counterpart: the reference has
# no table format at all; these are the table-ops layer a production
# 10^12-row corpus operates through.
# ---------------------------------------------------------------------------

REFS_DIR = "_refs"
_REF_NAME_RE = None  # compiled lazily (module imports stay minimal)


def _ref_path(table: str, name: str) -> str:
    global _REF_NAME_RE
    if _REF_NAME_RE is None:
        import re

        _REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")
    if not _REF_NAME_RE.match(name):
        raise ValueError(
            f"ref name {name!r} — use letters/digits/dot/dash/underscore"
        )
    return os.path.join(table, REFS_DIR, f"{name}.json")


def _new_ref(table: str, name: str, version: int | None, kind: str) -> dict:
    """Create ref ``name`` of ``kind`` (tag/branch) at ``version``
    (default: latest). Creation is create-exclusive like a snapshot
    publish, so two racers cannot both create one name."""
    import time as _time

    snap = load_snapshot(table, version)  # validates existence
    ref = {
        "name": name,
        "type": kind,
        "version": snap["version"],
        "created_at": round(_time.time(), 3),
    }
    if not _write_json(_ref_path(table, name), ref, exclusive=True):
        raise FileExistsError(f"ref {name!r} already exists on {table}")
    return ref


def _load_ref(table: str, name: str) -> dict:
    try:
        with open(_ref_path(table, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise KeyError(f"no ref {name!r} on {table}") from None


def create_tag(table: str, name: str, version: int | None = None) -> dict:
    """Pin an IMMUTABLE named pointer at ``version`` (default: latest).
    Tags protect their snapshot from :func:`vacuum` until dropped —
    the release-pinning half of Iceberg refs."""
    return _new_ref(table, name, version, "tag")


def create_branch(table: str, name: str, version: int | None = None) -> dict:
    """Create a MOVABLE named pointer at ``version`` (default: latest).
    Move it later with :func:`set_branch`; like tags it pins its
    current target against :func:`vacuum`."""
    return _new_ref(table, name, version, "branch")


def set_branch(table: str, name: str, version: int) -> dict:
    """Move branch ``name`` to ``version`` (fast-forward or rewind —
    the caller decides the policy; the primitive is an atomic
    pointer swap, last writer wins — the Iceberg update-a-branch
    contract). Refuses to move a tag: tags are immutable."""
    ref = _load_ref(table, name)
    if ref["type"] != "branch":
        raise ValueError(f"ref {name!r} is a {ref['type']} — tags are immutable")
    load_snapshot(table, version)  # must exist
    import time as _time

    ref = {**ref, "version": version, "updated_at": round(_time.time(), 3)}
    _write_json(_ref_path(table, name), ref, exclusive=False)
    return ref


def resolve_ref(table: str, name: str) -> int:
    """The snapshot version a tag/branch currently points at."""
    return _load_ref(table, name)["version"]


def list_refs(table: str) -> dict[str, dict]:
    """All refs on the table, name → ref record."""
    d = os.path.join(table, REFS_DIR)
    if not os.path.isdir(d):
        return {}
    out = {}
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json") and not fn.startswith("."):
            with open(os.path.join(d, fn)) as f:
                ref = json.load(f)
            out[ref["name"]] = ref
    return out


def drop_ref(table: str, name: str) -> None:
    """Delete a tag or branch. Its target snapshot becomes eligible for
    :func:`vacuum` again (if outside the keep window)."""
    _load_ref(table, name)  # KeyError if absent
    os.unlink(_ref_path(table, name))


def rollback_table(table: str, to_version: int) -> dict:
    """Restore snapshot ``to_version`` as a NEW commit (Iceberg's
    rollback): the new snapshot references exactly the target's data
    files, delete files, schema, and partition spec — metadata-only, no
    data is read or rewritten, and the versions in between stay in the
    history for audit until vacuumed. The bad-deploy escape hatch: an
    upstream job corrupted v7–v9, `rollback_table(t, 6)` serves v6's
    bytes as v10 in milliseconds at any table size. The replay
    watermark is the one field not restored: like every commit, a
    rollback keeps the base's ``stream_batch_id``, so a micro-batch whose
    rows were rolled back stays acknowledged rather than silently
    re-appending (re-ingest explicitly if you wanted those rows)."""
    target = load_snapshot(table, to_version)
    return _commit(
        table,
        "rollback",
        lambda base: {
            **{k: target.get(k) for k in _CARRIED},
            "files": target["files"],
            "rolled_back_to": to_version,
        },
    )


# --- write-audit-publish -----------------------------------------------------

def _wap_path(table: str, wap_id: str) -> str:
    return os.path.join(table, SNAP_DIR, f"wap-{wap_id}.json")


def stage_append(df: DataFrame, table: str, wap_id: str | None = None) -> dict:
    """Write ``df``'s rows as data files and record them in a STAGED
    manifest invisible to every reader — step one of write-audit-publish
    (Iceberg's ``spark.wap.id`` workflow). The staged files inherit the
    table's partition spec so publish is pure metadata. Audit with
    :func:`read_staged`, then :func:`publish_staged` or
    :func:`drop_staged`; until published, ``read_table``/time travel/
    refs never see the rows, and :func:`vacuum` protects (not reclaims)
    the staged files."""
    import time as _time

    base = load_snapshot(table)  # staging requires an existing table
    _check_append_schema(base, df.schema)
    new_files = _write_data_files(df, table, base.get("partition_spec"))
    wap_id = wap_id or uuid.uuid4().hex[:12]
    staged = {
        "format_version": FORMAT_VERSION,
        "wap_id": wap_id,
        "staged_at": round(_time.time(), 3),
        "base_version": base["version"],
        "schema": df.schema.simpleString(),
        "schema_json": df.schema.json(),
        "files": new_files,
        "new_rows": sum(f["rows"] for f in new_files),
    }
    if not _write_json(_wap_path(table, wap_id), staged, exclusive=True):
        raise FileExistsError(f"staged write {wap_id!r} already exists on {table}")
    return staged


def load_staged(table: str, wap_id: str) -> dict:
    try:
        with open(_wap_path(table, wap_id)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise KeyError(f"no staged write {wap_id!r} on {table}") from None


def list_staged(table: str) -> list[str]:
    d = os.path.join(table, SNAP_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        fn[len("wap-"):-len(".json")]
        for fn in os.listdir(d)
        if fn.startswith("wap-") and fn.endswith(".json")
    )


def read_staged(spark: SparkSession, table: str, wap_id: str) -> DataFrame:
    """The audit surface: exactly the staged files, nothing else — the
    validation job scans ONLY the incoming rows (null-rate checks,
    dedup-against-self, PII scan) no matter how large the base table
    is. That asymmetry is the whole point of WAP at 10^12 rows."""
    staged = load_staged(table, wap_id)
    return _read_files(spark, table, _schema(staged), [f["path"] for f in staged["files"]])


def publish_staged(table: str, wap_id: str) -> dict:
    """Atomically make a staged write visible: new snapshot = current
    base's files + the staged files (pure metadata — no data I/O, so
    publish is O(manifest) regardless of staged volume). The base may
    have moved since staging; each :func:`_commit` attempt re-derives
    it, and the staged schema is re-checked against the CURRENT base (a
    concurrent add-column evolution the staged data lacks aborts with a
    clear error rather than publishing rows that silently drop the
    column). On success the staging record is removed."""
    staged = load_staged(table, wap_id)
    staged_schema = _schema(staged)

    def build(base):
        _check_append_schema(base, staged_schema)
        return {
            "schema": staged["schema"],
            "schema_json": staged["schema_json"],
            "files": base["files"] + staged["files"],
            "new_rows": staged["new_rows"],
            "wap_id": wap_id,
        }

    snap = _commit(table, "wap_publish", build)
    os.unlink(_wap_path(table, wap_id))
    return snap


def drop_staged(table: str, wap_id: str) -> None:
    """Abandon a staged write (the audit failed). The staging record is
    removed immediately; its data files become orphans that
    :func:`vacuum`'s sweep reclaims after the grace window."""
    load_staged(table, wap_id)  # KeyError if absent
    os.unlink(_wap_path(table, wap_id))
