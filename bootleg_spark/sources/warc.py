"""WARC (Web ARChive) source/sink plumbing for Common-Crawl-style input.

BASELINE.json's input_hint is a Common-Crawl-shaped pages table; the
upstream of such a table is WARC files. This module provides both
directions so the engine can ingest raw WARC and the tests can
round-trip:

- :func:`pages_to_warc` — serialize pages into multi-record WARC/1.0
  buffers, entirely JVM-side (header strings + binary concat);
- :func:`parse_warc` — parse WARC buffers (plain or gzip, including
  Common Crawl's member-per-record gzip layout) into one row per
  response record, via an Arrow-batched ``mapInPandas``.

Scale notes: on a real cluster the input arrives as files — read them
with ``spark.read.format("binaryFile")`` (one file per row, the exact
shape ``parse_warc`` consumes) and let file granularity drive
parallelism; Common Crawl segments are ~1 GB gzip so one file per task
is the right unit. The parser streams each buffer once, O(record) at a
time, and emits only response records. The builder aggregates records
per bucket with a bounded group size — a production sink would instead
write per-partition WARC files from ``mapInPandas`` (same record
bytes), but the grouped-buffer shape is what exercises the multi-record
parse path hermetically.

WARC/1.0 format (ISO 28500): records are
``WARC/1.0\\r\\n<headers>\\r\\n\\r\\n<Content-Length payload bytes>\\r\\n\\r\\n``.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WARC_DATE_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

PARSED_SCHEMA = StructType(
    [
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def warc_record_bytes(url_col, ts_col, payload_col):
    """Column expression: one WARC/1.0 response record as binary.

    ``Content-Length`` is the payload byte length (``length`` on a
    binary column counts bytes). Pure JVM string/binary concat.
    """
    header = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url_col,
        F.lit("\r\nWARC-Date: "),
        F.date_format(ts_col, WARC_DATE_FMT),
        F.lit("\r\nContent-Length: "),
        F.length(payload_col).cast("string"),
        F.lit("\r\n\r\n"),
    )
    return F.concat(F.encode(header, "UTF-8"), payload_col, F.encode(F.lit("\r\n\r\n"), "UTF-8"))


def pages_to_warc(pages: DataFrame, group_mod: int = 8) -> DataFrame:
    """(bucket, warc): multi-record WARC buffers, ``group_mod`` of them,
    records concatenated in ``doc_id`` order within each bucket.

    Deterministic: bucket assignment is ``pmod(id, group_mod)`` and the
    in-buffer order is the sorted id, so the same input always yields
    byte-identical buffers (testable against goldens).
    """
    rec = pages.select(
        F.pmod(F.col("doc_id"), F.lit(group_mod)).cast("long").alias("bucket"),
        F.col("doc_id").alias("_id"),
        warc_record_bytes(F.col("url"), F.col("warc_ts"), F.col("html")).alias("rec"),
    )
    return (
        rec.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "rec"))).alias("recs"))
        .select(
            "bucket",
            F.aggregate(
                F.col("recs"),
                F.lit(b""),
                lambda acc, x: F.concat(acc, x["rec"]),
            ).alias("warc"),
        )
    )


_GZIP_MAGIC = b"\x1f\x8b\x08"


def _gunzip_members(b: bytes) -> tuple[bytes, int]:
    """Decompress a (possibly multi-member) gzip stream — Common Crawl
    gzips each record as its own member, so loop until input exhausts.

    Returns ``(decoded, dropped_members)``. A malformed member (corrupt
    bytes mid-segment) is skipped by resyncing at the next gzip magic
    instead of ending the scan — a single bad member must not silently
    drop the rest of a ~1 GB crawl segment (round-3 advice: the old
    break-on-error form lost everything *after* the corrupt point, not
    just the tail the docstring described, with no signal). The dropped
    count makes the loss observable; :func:`parse_warc_buffer` reports
    it through its ``stats`` dict."""
    out = []
    dropped = 0
    buf = b
    view = memoryview(buf)
    off = 0
    n = len(buf)
    while off < n:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            out.append(d.decompress(view[off:]))
            out.append(d.flush())
        except zlib.error:
            # corrupt member: resync at the next gzip magic past this
            # position (strictly advancing, so the loop terminates; a
            # false magic inside compressed garbage just fails again
            # and resyncs further along). Offset into a memoryview —
            # reslicing bytes per attempt was O(n) copy per resync,
            # quadratic on a big segment with many false magics.
            dropped += 1
            nxt = buf.find(_GZIP_MAGIC, off + 1)
            if nxt < 0:
                break
            off = nxt
            continue
        off = n - len(d.unused_data)
    return b"".join(out), dropped


def parse_warc_buffer(
    b: bytes, stats: dict | None = None
) -> Iterator[tuple[str, str, bytes]]:
    """Yield (target_uri, warc_date, payload) for each response record.

    Plain single-process parser (also the Spark UDF's inner loop):
    header block up to the first CRLFCRLF, ``Content-Length`` bytes of
    payload, record terminator CRLFCRLF. Non-response records
    (warcinfo, request, metadata) are parsed and skipped. Malformed
    trailing bytes end the scan rather than raising — a truncated tail
    record is a fact of life in crawl data.

    ``stats`` (optional dict) receives per-buffer loss counters so the
    truncation contract is observable, not silent:
    ``dropped_gzip_members`` (corrupt members resynced past),
    ``truncated_tail`` (1 if the record scan ended before the buffer
    did), ``leftover_bytes`` (unparsed bytes at the break point).
    """
    if b[:2] == b"\x1f\x8b":
        b, dropped = _gunzip_members(b)
        if stats is not None:
            stats["dropped_gzip_members"] = stats.get("dropped_gzip_members", 0) + dropped
    i = 0
    n = len(b)
    while i < n:
        j = b.find(b"\r\n\r\n", i)
        if j < 0:
            break
        lines = b[i:j].decode("utf-8", "replace").split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            break
        hdr = {}
        for line in lines[1:]:
            k, sep, v = line.partition(":")
            if sep:
                hdr[k.strip().lower()] = v.strip()
        try:
            clen = int(hdr.get("content-length", ""))
        except ValueError:
            break
        payload = b[j + 4 : j + 4 + clen]
        if len(payload) < clen:
            break  # truncated tail record
        if hdr.get("warc-type") == "response":
            yield hdr.get("warc-target-uri", ""), hdr.get("warc-date", ""), payload
        i = j + 4 + clen + 4  # skip the record terminator CRLFCRLF
    if stats is not None and i < n:
        stats["truncated_tail"] = stats.get("truncated_tail", 0) + 1
        stats["leftover_bytes"] = stats.get("leftover_bytes", 0) + (n - i)


def parse_warc(df: DataFrame, content_col: str = "warc") -> DataFrame:
    """One row per WARC response record across all buffers in
    ``df[content_col]`` (binary). Arrow-batched ``mapInPandas``; each
    task parses its buffers independently (no shuffle)."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uris, dates, payloads = [], [], []
            for buf in pdf[content_col]:
                for uri, date, payload in parse_warc_buffer(bytes(buf)):
                    uris.append(uri)
                    dates.append(date)
                    payloads.append(payload)
            yield pd.DataFrame(
                {"target_uri": uris, "warc_date": dates, "payload": payloads}
            )

    return df.select(content_col).mapInPandas(_parse, PARSED_SCHEMA)


MANIFEST_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("n_records", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def write_warc_files(pages: DataFrame, out_dir: str, overwrite: bool = False) -> DataFrame:
    """Production sink: one ``.warc.gz`` file per partition, each record
    its own gzip member (Common Crawl's layout — seekable per record).

    Record bytes are built JVM-side (:func:`warc_record_bytes`); the
    ``mapInPandas`` pass only gzips and appends, streaming one Arrow
    batch at a time — no partition-sized buffer in Python memory.
    Returns the manifest (path, n_records, n_bytes), one row per file;
    the action that consumes the manifest drives the write.

    Commit protocol (a transformation with side effects must survive
    task retries, speculation, and repeated actions without
    duplicating data): each task writes to a dot-prefixed
    ``.part-<pid>.warc.gz.inprogress`` temp and ``os.replace``s it to
    the DETERMINISTIC final name ``part-<pid>.warc.gz`` only after its
    iterator is exhausted. A retried or re-run task overwrites the
    same file with identical bytes (``mtime=0`` per member +
    deterministic content), never adds a second one; a task that dies
    mid-write leaves only a hidden temp that both the ``*.warc.gz``
    glob and binaryFile's hidden-file filter ignore. That re-run
    safety holds for IDENTICAL input + partitioning only: writing a
    different frame (or fewer partitions) into a used directory leaves
    the old extra part files in place — pass ``overwrite=True`` to
    clear existing ``part-*.warc.gz`` + stale temps from ``out_dir``
    at call time (driver-side, before the action), or use a fresh
    directory. Size partitions
    upstream (``repartition(n)`` / ``maxPartitionBytes``) so each file
    lands near the ~1 GB segment size crawl tooling expects; read back
    with :func:`read_warc_files` — file granularity then drives ingest
    parallelism exactly as with real Common Crawl segments.

    **Filesystem contract (ADVICE r4)**: ``out_dir`` must be a POSIX
    path on a filesystem shared by driver and executors — local disk in
    local mode, NFS/Lustre on a cluster. Tasks commit with
    ``open``/``os.replace`` and the driver's ``overwrite`` cleanup uses
    ``os.listdir``; on executor-local disks the manifest would point at
    files the driver cannot see, and object stores have no atomic
    rename. URI schemes (``hdfs://``, ``s3a://`` …) are rejected
    eagerly. For distributed stores, either mount them (s3fs/fuse —
    rename is then copy+delete, still exactly-once since retries write
    identical bytes) or target the store's own conditional-put API in
    place of ``os.replace``; the record/member layout is unchanged
    either way."""
    import gzip
    import os
    import re as _re
    import uuid

    from pyspark import TaskContext

    if _re.match(r"^[a-z][a-z0-9+.-]*://", out_dir):
        raise ValueError(
            f"write_warc_files needs a shared POSIX path, got URI '{out_dir}' — "
            "see the filesystem contract in the docstring"
        )
    if overwrite and os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            if name.endswith(".warc.gz") or name.endswith(".inprogress"):
                os.unlink(os.path.join(out_dir, name))

    rec = pages.select(
        warc_record_bytes(F.col("url"), F.col("warc_ts"), F.col("html")).alias("rec")
    )

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        final = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        # per-ATTEMPT temp (uuid): concurrent speculative attempts each
        # write privately and race only on the atomic replace, where
        # both carry identical bytes
        tmp = os.path.join(
            out_dir, f".part-{pid:05d}-{uuid.uuid4().hex[:8]}.warc.gz.inprogress"
        )
        n_rec = 0
        n_bytes = 0
        fh = None
        try:
            for pdf in batches:
                if len(pdf) and fh is None:
                    os.makedirs(out_dir, exist_ok=True)
                    fh = open(tmp, "wb")
                for buf in pdf["rec"]:
                    member = gzip.compress(bytes(buf), mtime=0)
                    fh.write(member)
                    n_rec += 1
                    n_bytes += len(member)
        except BaseException:
            if fh is not None:
                fh.close()
                os.unlink(tmp)
            raise
        if fh is None:
            yield pd.DataFrame(columns=["path", "n_records", "n_bytes"])
            return
        fh.close()
        os.replace(tmp, final)  # atomic publish; retries overwrite in place
        yield pd.DataFrame({"path": [final], "n_records": [n_rec], "n_bytes": [n_bytes]})

    return rec.mapInPandas(_write, MANIFEST_SCHEMA)


def read_warc_files(spark, path_glob: str) -> DataFrame:
    """Ingest ``.warc.gz`` files via ``binaryFile`` (one row per file —
    the exact buffer shape :func:`parse_warc` consumes; file granularity
    drives parallelism, one ~1 GB segment per task on a crawl)."""
    files = spark.read.format("binaryFile").load(path_glob)
    return parse_warc(files, content_col="content")
