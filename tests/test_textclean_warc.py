"""Corpus hygiene (PII scrub, URL canonicalization, decontamination)
and WARC source tests."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from bootleg_spark.operators import textclean
from bootleg_spark.sources import synth, warc
from tests.conftest import SF_SMOKE


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


class TestScrubPii:
    def test_redacts_and_counts(self, spark):
        rows = [
            (1, "mail me at a.b+c@ex-ample.co.uk or call +1-555-123-4567 now"),
            (2, "server 10.0.0.1 and 192.168.1.255 up"),
            (3, "clean text no pii at all"),
        ]
        out = {
            r["id"]: r
            for r in textclean.scrub_pii(_df(spark, rows, "doc_id long, text string")).collect()
        }
        assert out[1]["clean_text"] == "mail me at <EMAIL> or call <PHONE> now"
        assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (1, 1, 0)
        assert out[2]["clean_text"] == "server <IP> and <IP> up"
        assert out[2]["n_ips"] == 2
        # non-PII text unchanged (the scrubber must not rewrite clean rows)
        assert out[3]["clean_text"] == rows[2][1]
        assert (out[3]["n_emails"], out[3]["n_phones"], out[3]["n_ips"]) == (0, 0, 0)

    def test_sequential_counts_no_double_count(self, spark):
        # the email's digits must not also count as a phone/IP
        rows = [(1, "x 1.2.3.4u@h.io y")]  # not a valid bare IP (trailing letter in host)
        r = textclean.scrub_pii(_df(spark, rows, "doc_id long, text string")).collect()[0]
        assert r["n_emails"] == 1
        assert r["n_ips"] == 0
        assert r["clean_text"] == "x <EMAIL> y"


class TestCanonicalUrls:
    def test_variants_collapse(self, spark):
        rows = [
            (0, "HTTPS://WWW.Example.org:443/a/b/?utm_source=f&b=2&a=1#frag"),
            (1, "https://example.org/a/b?a=1&b=2"),
            (2, "https://example.org/a/b/?b=2&a=1&gclid=zz"),
        ]
        out = textclean.canonical_urls(
            _df(spark, rows, "doc_id long, url string")
        ).collect()
        assert {r["url_canon"] for r in out} == {"https://example.org/a/b?a=1&b=2"}

    def test_schemeless_passthrough(self, spark):
        # non-hierarchical URLs must NOT collapse to a shared ':///' key
        rows = [
            (0, "example.com/a?x=1"),
            (1, "other.net/b?x=1"),
            (2, "mailto:a@b.io"),
        ]
        out = {
            r["id"]: r["url_canon"]
            for r in textclean.canonical_urls(_df(spark, rows, "doc_id long, url string")).collect()
        }
        assert out == {0: "example.com/a?x=1", 1: "other.net/b?x=1", 2: "mailto:a@b.io"}

    def test_root_and_ports(self, spark):
        rows = [
            (0, "http://EXample.com:80/"),
            (1, "http://example.com"),
            (2, "http://example.com:8080/x/"),
        ]
        got = {
            r["id"]: r["url_canon"]
            for r in textclean.canonical_urls(_df(spark, rows, "doc_id long, url string")).collect()
        }
        assert got[0] == "http://example.com/"
        assert got[1] == "http://example.com/"
        assert got[2] == "http://example.com:8080/x"  # non-default port kept


class TestContamination:
    def test_hits_and_misses(self, spark):
        corpus = _df(
            spark,
            [(1, "alpha beta gamma delta"), (2, "zeta eta theta iota")],
            "doc_id long, text string",
        )
        ev = _df(spark, [(100, "beta gamma delta epsilon")], "doc_id long, text string")
        out = {r["id"]: r for r in textclean.ngram_contamination(corpus, ev).collect()}
        # doc 1 shares 'beta gamma delta'; doc 2 shares nothing
        assert set(out) == {1}
        assert out[1]["n_hit"] == 1 and out[1]["n_shingles"] == 2
        assert abs(out[1]["hit_frac"] - 0.5) < 1e-9


class TestIdempotence:
    """Hygiene ops must be fixed points on their own output — rerunning
    a cleaning pass over an already-clean corpus is a no-op."""

    def test_scrub_is_fixed_point(self, spark):
        rows = [
            (1, "a@b.io and +1-555-123-4567 and 1.2.3.4 end"),
            (2, "nothing here"),
        ]
        once = textclean.scrub_pii(_df(spark, rows, "doc_id long, text string")).select(
            F.col("id").alias("doc_id"), F.col("clean_text").alias("text")
        )
        twice = textclean.scrub_pii(once).collect()
        for r in twice:
            assert (r["n_emails"], r["n_phones"], r["n_ips"]) == (0, 0, 0)

    def test_canonical_is_fixed_point(self, spark):
        import random

        rng = random.Random(42)
        urls = []
        for i in range(200):
            scheme = rng.choice(["http", "https", "HTTPS"])
            host = rng.choice(["example.org", "WWW.Example.org", "a.b.co:8080", "x.io:443"])
            path = rng.choice(["", "/", "/p", "/p/q/", "/p%20q"])
            q = rng.choice(["", "?a=1", "?utm_x=1&b=2", "?b=2&a=1&gclid=g"])
            frag = rng.choice(["", "#f"])
            urls.append((i, f"{scheme}://{host}{path}{q}{frag}"))
        once = textclean.canonical_urls(_df(spark, urls, "doc_id long, url string")).select(
            F.col("id").alias("doc_id"), F.col("url_canon").alias("url")
        )
        again = textclean.canonical_urls(once)
        diff = again.where(F.col("url_raw") != F.col("url_canon")).collect()
        assert diff == []


class TestCorpusSelect:
    def test_rules_compose(self, spark):
        docs = _df(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog today"),   # keeper
                (2, "the quick brown fox jumps over the lazy dog today"),   # exact dup of 1
                (3, "der hund und die katze und der vogel sind hier ja"),   # german
                (4, "short text"),                                          # fails quality
                (5, "the eval set phrase appears here word for word now"),  # contaminated
            ],
            "doc_id long, text string",
        )
        ev = _df(spark, [(100, "the eval set phrase appears here ok")], "doc_id long, text string")
        out = textclean.select_training_corpus(docs, ev, shingle_n=5)
        assert {r["id"] for r in out.collect()} == {1}


class TestWarc:
    def test_roundtrip_multi_record(self, spark):
        pages = synth.pages_table(spark, SF_SMOKE)
        n = pages.count()
        bufs = warc.pages_to_warc(pages, group_mod=4)
        assert bufs.count() == 4  # multi-record buffers, not one per page
        recs = warc.parse_warc(bufs, "warc")
        joined = (
            recs.alias("r")
            .join(pages.alias("p"), F.col("r.target_uri") == F.col("p.url"))
            .where(F.col("r.payload") == F.col("p.html"))
        )
        assert joined.count() == n  # every page back, payload byte-identical

    def test_parse_gzip_members(self):
        # Common Crawl layout: one gzip member per record
        payload = b"<html>x</html>"
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a/\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            + b"Content-Length: %d\r\n\r\n" % len(payload)
            + payload
            + b"\r\n\r\n"
        )
        buf = gzip.compress(rec, mtime=0) + gzip.compress(rec, mtime=0)
        out = list(warc.parse_warc_buffer(buf))
        assert len(out) == 2
        assert out[0] == ("http://a/", "2024-01-01T00:00:00Z", payload)

    def test_gzip_corrupt_tail_keeps_good_members(self):
        payload = b"<html>x</html>"
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n"
            b"WARC-Date: d\r\n"
            + b"Content-Length: %d\r\n\r\n" % len(payload)
            + payload
            + b"\r\n\r\n"
        )
        buf = gzip.compress(rec, mtime=0) + b"\x00\x00GARBAGE"
        out = list(warc.parse_warc_buffer(buf))
        assert out == [("u", "d", payload)]  # good member survives, no raise

    def test_skips_non_response_and_truncation(self):
        info = (
            b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 2\r\n\r\nok\r\n\r\n"
        )
        resp = (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n"
            b"WARC-Date: d\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n"
        )
        truncated = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99\r\n\r\nshort"
        out = list(warc.parse_warc_buffer(info + resp + truncated))
        assert out == [("u", "d", b"abc")]

    def test_gzip_mid_segment_corrupt_member_resyncs(self):
        """Regression (round-3 advice): a corrupt member mid-segment
        must not drop every record AFTER it — the parser resyncs at the
        next gzip magic and reports the loss via stats."""
        payload = b"<html>x</html>"
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n"
            b"WARC-Date: d\r\n"
            + b"Content-Length: %d\r\n\r\n" % len(payload)
            + payload
            + b"\r\n\r\n"
        )
        good = gzip.compress(rec, mtime=0)
        corrupt = good[:8] + b"\xff\xff\xff\xff" + good[12:]
        stats: dict = {}
        out = list(warc.parse_warc_buffer(good + corrupt + good, stats))
        # both good members survive; the corrupt one is counted
        assert len(out) == 2
        assert stats["dropped_gzip_members"] >= 1

    def test_file_sink_binaryfile_roundtrip(self, spark, tmp_path):
        """Production path: per-partition .warc.gz files out, binaryFile
        ingest back; file granularity drives parallelism."""
        pages = synth.pages_table(spark, SF_SMOKE).repartition(3)
        n = pages.count()
        out_dir = str(tmp_path / "warcs")
        manifest = warc.write_warc_files(pages, out_dir).collect()
        paths = [r["path"] for r in manifest if r["n_records"] > 0]
        assert len(paths) == 3  # one file per non-empty partition
        assert sum(r["n_records"] for r in manifest) == n
        back = warc.read_warc_files(spark, out_dir + "/*.warc.gz")
        # one input split per file → ingest parallelism = file count
        assert back.rdd.getNumPartitions() >= len(paths)
        joined = (
            back.alias("r")
            .join(pages.alias("p"), F.col("r.target_uri") == F.col("p.url"))
            .where(F.col("r.payload") == F.col("p.html"))
        )
        assert joined.count() == n  # payloads byte-identical through the files

    def test_payload_with_crlfcrlf_inside(self):
        # Content-Length framing must win over delimiter scanning
        payload = b"AA\r\n\r\nBB"
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\nWARC-Date: d\r\n"
            + b"Content-Length: %d\r\n\r\n" % len(payload)
            + payload
            + b"\r\n\r\n"
        )
        out = list(warc.parse_warc_buffer(rec + rec))
        assert [p for _, _, p in out] == [payload, payload]


class TestStreamingCompat:
    def test_hygiene_ops_run_as_streaming_query(self, spark, tmp_path):
        """The hygiene projections are stateless narrow plans, so the
        exact same operator code must run unchanged under Structured
        Streaming (file source → scrub+canon → parquet sink)."""
        src = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        batch = _df(
            spark,
            [(1, "mail a@b.io now", "HTTPS://WWW.Example.org:443/p/?utm_x=1&a=1#f")],
            "doc_id long, text string, url string",
        )
        batch.write.parquet(src)
        stream = spark.readStream.schema("doc_id long, text string, url string").parquet(src)
        scrubbed = textclean.scrub_pii(stream).withColumnRenamed("id", "doc_id")
        canon = textclean.canonical_urls(stream).select(
            F.col("id").alias("doc_id"), "url_canon"
        )
        joined = scrubbed.join(canon, "doc_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 1
        assert rows[0]["clean_text"] == "mail <EMAIL> now"
        assert rows[0]["url_canon"] == "https://example.org/p?a=1"

    def test_file_sink_rerun_does_not_duplicate(self, spark, tmp_path):
        """Review regression: the sink publishes deterministic
        part-<pid> names via temp+rename, so re-running the write (a
        retried task, a second action) overwrites in place instead of
        adding files."""
        pages = synth.pages_table(spark, SF_SMOKE).repartition(2)
        n = pages.count()
        out_dir = str(tmp_path / "warcs")
        m1 = warc.write_warc_files(pages, out_dir).collect()
        m2 = warc.write_warc_files(pages, out_dir).collect()
        assert sorted(r["path"] for r in m1) == sorted(r["path"] for r in m2)
        import os as _os

        # os.listdir, NOT glob('*'): the temps are dot-prefixed and a
        # '*' glob skips hidden files, which made the old assertion
        # unfalsifiable (review finding)
        names = _os.listdir(out_dir)
        assert len([f for f in names if f.endswith(".warc.gz")]) == 2
        assert not [f for f in names if f.endswith(".inprogress")]
        back = warc.read_warc_files(spark, out_dir + "/*.warc.gz")
        assert back.count() == n  # no duplicated records


class TestLineDedup:
    def test_c4_semantics(self, spark):
        """Any line with ≥min_count instances corpus-wide drops from
        every doc; within-doc repeats count as instances; docs left
        empty disappear; survivors keep original line order."""
        docs = _df(
            spark,
            [
                (1, "unique alpha\nboiler plate\nunique beta"),
                (2, "boiler plate\nunique gamma"),
                (3, "boiler plate\nonly this doc"),
                (4, "twice here\ntwice here\nunique delta"),
                (5, "boiler plate"),  # becomes empty -> dropped
            ],
            "doc_id long, text string",
        )
        out = {
            r["id"]: r
            for r in textclean.dedup_lines_global(docs, min_count=3).collect()
        }
        assert set(out) == {1, 2, 3, 4}
        assert out[1]["text"] == "unique alpha\nunique beta"
        assert (out[1]["n_lines_kept"], out[1]["n_lines_dropped"]) == (2, 1)
        assert out[2]["text"] == "unique gamma"
        assert out[3]["text"] == "only this doc"
        # 'twice here' has only 2 instances -> kept, order preserved
        assert out[4]["text"] == "twice here\ntwice here\nunique delta"

    def test_trim_matching_and_empty_lines(self, spark):
        docs = _df(
            spark,
            [
                (1, "  spam line \nkeep a"),
                (2, "spam line\nkeep b"),
                (3, "spam line  \n\nkeep c"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["id"]: r["text"]
            for r in textclean.dedup_lines_global(docs, min_count=3).collect()
        }
        # trimmed forms match across docs (so all three spam variants
        # drop); surviving lines keep their ORIGINAL whitespace and
        # blank lines are preserved as document structure
        assert out == {1: "keep a", 2: "keep b", 3: "\nkeep c"}

    def test_untouched_docs_roundtrip_byte_identically(self, spark):
        """ADVICE r4: a document with no duplicated content lines must
        come back byte-identical — per-line leading/trailing whitespace
        and blank lines included (the first version rebuilt text from
        trimmed lines and silently dropped blanks)."""
        texts = [
            "  leading ws\ntrailing ws  \n\nmid blank kept",
            "tabs\there\n \nspaced blank line stays",
            "plain\nlines",
        ]
        docs = _df(
            spark,
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        out = {
            r["id"]: r
            for r in textclean.dedup_lines_global(docs, min_count=2).collect()
        }
        for i, t in enumerate(texts):
            assert out[i]["text"] == t, (i, out[i]["text"])
            assert out[i]["n_lines_dropped"] == 0
        # blank lines are excluded from the content tallies
        assert out[0]["n_lines_kept"] == 3
        assert out[1]["n_lines_kept"] == 2
