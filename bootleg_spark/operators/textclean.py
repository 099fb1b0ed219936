"""Corpus hygiene for training-data pipelines: PII scrubbing, URL
canonicalization, and benchmark decontamination.

Engine extensions beyond the reference (task brief: the operations a
large-scale training-data pipeline needs). All three are pure JVM
expression plans (whole-stage codegen, no Python) with exact DuckDB SQL
mirrors; the regex dialect is restricted to the Java-regex ∩ RE2 subset
(no lookarounds, no backrefs) so Spark and the oracle match
byte-for-byte.

Scale notes:
- ``scrub_pii`` is a narrow projection — runs inside the scan stage,
  shuffle-free, and the counts columns make redaction-rate monitoring a
  map-side aggregate.
- ``canonical_urls`` is likewise shuffle-free; URL-level dedup is its
  composition with :func:`bootleg_spark.operators.dedup.dedup_exact`
  on the canonical column (renamed to ``text``).
- ``ngram_contamination`` broadcasts the *eval-set* shingles (benchmark
  suites are MBs against a 100 TB corpus) so the corpus side joins
  map-side with no shuffle of corpus shingles; only the per-doc hit
  counts aggregate (partial, map-side combined).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bootleg_spark.operators.dedup import doc_shingle_arrays

# Java-regex ∩ RE2 portable patterns (no lookaround/backref); DuckDB
# single-quoted strings pass backslashes through literally, so these
# exact strings are embedded in the oracle SQL too.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+\d{1,3}-\d{3}-\d{3,4}-\d{4}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Redact emails → ``<EMAIL>``, then phones → ``<PHONE>``, then IPv4
    literals → ``<IP>``; count each category as it is removed.

    The three passes are SEQUENTIAL and ordered most-specific-first:
    counts for pass k are computed on the text with passes < k already
    applied, so a token never double-counts (an email's host can't also
    match as a bare domain/IP). Returns
    ``(id, n_emails, n_phones, n_ips, clean_text)``.
    """
    t0 = F.col("text")
    n_emails = F.size(F.regexp_extract_all(t0, F.lit(EMAIL_RE), 0))
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(t1, F.lit(PHONE_RE), 0))
    t2 = F.regexp_replace(t1, PHONE_RE, "<PHONE>")
    n_ips = F.size(F.regexp_extract_all(t2, F.lit(IP_RE), 0))
    t3 = F.regexp_replace(t2, IP_RE, "<IP>")
    return docs.select(
        F.col("doc_id").alias("id"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
        t3.alias("clean_text"),
    )


# Tracking params dropped during canonicalization (prefix match for the
# utm_ family, exact-key match for the rest).
TRACKING_PREFIXES = ("utm_",)
TRACKING_KEYS = ("fbclid", "gclid", "ref")


def canonical_urls(df: DataFrame) -> DataFrame:
    """Canonical URL form for URL-level dedup of a web crawl:

    - drop the fragment (``#...``);
    - lowercase scheme and host; strip a leading ``www.``; strip the
      scheme's default port (``:80`` http / ``:443`` https);
    - strip one trailing slash from the path (root stays ``/``; an
      empty path becomes ``/``);
    - drop tracking query params (``utm_*``, ``fbclid``, ``gclid``,
      ``ref``), sort the survivors, and rejoin.

    Returns ``(id, url_raw, url_canon)``. URL-level dedup = compose with
    ``dedup_exact`` on ``url_canon`` renamed to ``text`` and ``id`` to
    ``doc_id``.
    """
    u = F.col("url")
    no_frag = F.regexp_replace(u, "#.*", "")
    base = F.regexp_extract(no_frag, r"^([^?]*)", 1)
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    scheme = F.lower(F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$", 1)
    path_c = F.regexp_replace(path, "/$", "")
    path_c = F.when(path_c == "", "/").otherwise(path_c)
    def _keep(p):
        cond = p != ""
        for pref in TRACKING_PREFIXES:
            cond = cond & ~p.startswith(pref)
        for key in TRACKING_KEYS:
            cond = cond & ~p.startswith(key + "=")
        return cond

    parts = F.filter(F.split(query, "&"), _keep)
    qs = F.concat_ws("&", F.array_sort(parts))
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path_c,
        F.when(qs == "", "").otherwise(F.concat(F.lit("?"), qs)),
    )
    # Non-hierarchical / scheme-less URLs (mailto:, bare 'example.com/x',
    # javascript: link debris) pass through UNCHANGED: without '://' the
    # scheme/host/path extracts all return '' and every such URL would
    # collapse to the single key ':///...' — composing with dedup_exact
    # would then merge distinct pages into one dup group and drop all
    # but one. Identity is the safe canon for shapes the rules don't fit.
    canon = F.when(u.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), canon).otherwise(u)
    return df.select(
        F.col("doc_id").alias("id"), u.alias("url_raw"), canon.alias("url_canon")
    )


def _shingles():
    """One ``shingle`` row per element of a ``doc_shingle_arrays`` frame.
    explode_outer, not explode: explode makes the optimizer infer
    ``size(dsh) > 0`` and push it below the projection, so every doc is
    shingled twice and the shingle slices run on docs the n-word filter
    drops (a negative slice length raises). ``dsh`` is never empty, so
    no row differs."""
    return F.explode_outer("dsh").alias("shingle")


def select_training_corpus(docs: DataFrame, eval_docs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """End-to-end corpus curation: the composed "give me a clean
    training corpus" selection a web-scale pipeline runs before
    training. A document survives iff it

    1. scores ``quality > 0`` AND language-IDs as ``en``
       (both computed IN the scan projection via
       ``textstats.quality_exprs``/``lang_pred_expr`` — one pass over
       the corpus, no self-join of derived frames);
    2. is its exact-dup cluster's keeper (min id per content hash — the
       ``dedup_exact`` rule; computed as a window over the FILTERED
       frame, which is equivalent because exact dups share text and so
       pass or fail rule 1 together — this avoids ``dedup_exact``'s
       second full-corpus scan + hash);
    3. shares no word ``shingle_n``-gram with the eval set (hit ids
       joined directly — :func:`ngram_contamination`'s per-doc
       counts/fractions would add an aggregation this anti-join never
       reads; eval side broadcast).

    Returns ``(id, n_words, quality, pred_lang)``. Near-dup removal
    (``dedup.dedup_keep``) composes the same way when LSH-level dedup
    is wanted; exact-only keeps this plan fully relational with one
    content-hash shuffle of the filtered stream beyond the scans.
    """
    from pyspark.sql import Window

    from bootleg_spark.operators.textstats import lang_pred_expr, quality_exprs

    q = quality_exprs()
    scored = docs.select(
        F.col("doc_id").alias("id"),
        F.md5(F.col("text")).alias("content_hash"),
        q["n_words"].alias("n_words"),
        q["quality"].alias("quality"),
        lang_pred_expr().alias("pred_lang"),
    ).where((F.col("quality") > 0.0) & (F.col("pred_lang") == "en"))
    w = Window.partitionBy("content_hash")
    kept = scored.withColumn("keep_id", F.min("id").over(w)).where(
        F.col("id") == F.col("keep_id")
    )
    e_sh = doc_shingle_arrays(eval_docs, shingle_n).select(_shingles()).distinct()
    cont_ids = (
        doc_shingle_arrays(docs, shingle_n)
        .select("id", _shingles())
        .join(F.broadcast(e_sh), "shingle")
        .select("id")
        .distinct()
    )
    return kept.join(cont_ids, "id", "left_anti").select(
        "id", "n_words", "quality", "pred_lang"
    )


def ngram_contamination(corpus: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word 3-gram shingles also occur anywhere in the eval set.

    Returns ``(id, n_hit, n_shingles, hit_frac)`` for documents with at
    least one overlapping shingle — the candidates to drop or audit
    before training. The eval shingle set is broadcast (benchmark suites
    are small); the corpus side therefore joins map-side and only the
    per-doc counts shuffle.
    """
    c_sh = doc_shingle_arrays(corpus).select(
        "id", _shingles(), F.size("dsh").cast("long").alias("n_shingles")
    )
    e_sh = doc_shingle_arrays(eval_docs).select(_shingles()).distinct()
    return (
        c_sh.join(F.broadcast(e_sh), "shingle")
        .groupBy("id", "n_shingles")
        .agg(F.count("*").cast("long").alias("n_hit"))
        .select(
            "id",
            "n_hit",
            "n_shingles",
            F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias("hit_frac"),
        )
    )


def dedup_lines_global(docs: DataFrame, min_count: int = 4) -> DataFrame:
    """C4-style global line deduplication: any line occurring
    ``min_count`` or more times across the corpus is removed from
    EVERY document; documents left with no lines drop out. Returns
    (id, text, n_lines_kept, n_lines_dropped). The default
    ``min_count=4`` is exactly Raffel et al. 2020 §2.2 ("discarded
    any line that occurred MORE THAN three times" — i.e. a 4th
    instance kills the line); pass 3 for a stricter sweep.

    Occurrences count line INSTANCES corpus-wide (a line repeated
    twice inside one document contributes two), matched on the
    TRIMMED line — but reassembly emits the ORIGINAL untrimmed line
    text, and whitespace-only lines are treated as document structure:
    always kept verbatim, never counted, and excluded from the
    kept/dropped tallies (which cover content lines only). A document
    none of whose content lines are duplicated therefore round-trips
    byte-identically, blank lines and per-line whitespace included
    (ADVICE r4: the first version rebuilt text from trimmed lines and
    silently dropped blanks). Lines split on ``\\n`` and are rejoined
    with it. Plan shape for 100 TB:
    explode lines → map-side-combined groupBy on the line for the
    counts → one shuffle join back at line grain (hot boilerplate
    lines are the skew case — AQE skew-join splits them; the count
    table is corpus-sized, so no broadcast); grouping/joining on the
    line STRING, not a 64-bit hash — at 10^10+ distinct lines birthday
    collisions on a long key are expected and would silently pool
    counts of unrelated lines (for very long line units, switch to the
    hash-propose/string-verify pattern of operators/dedup.py) →
    per-document reassembly in original line order. Deterministic;
    exact SQL mirror in the ``line_dedup`` oracle."""
    lines = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(F.split(F.col("text"), F.lit("\n"), -1)).alias("pos", "line"),
    ).withColumn("_key", F.trim("line"))
    # count CONTENT lines only (non-blank after trim), on the trimmed
    # key; whitespace-only lines never enter the count table
    counts = (
        lines.where(F.length("_key") > 0)
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    tagged = lines.join(counts, "_key", "left")  # blanks: _cnt null
    is_content = F.col("_cnt").isNotNull()
    kept = tagged.withColumn(
        "_keep", ~is_content | (F.col("_cnt") < min_count)
    ).withColumn("_content", is_content)
    out = kept.groupBy("id").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("_keep"), F.struct("pos", "line")))
        ).alias("_k"),
        F.sum(F.when(F.col("_keep") & F.col("_content"), 1).otherwise(0)).alias(
            "n_lines_kept"
        ),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).alias("n_lines_dropped"),
    )
    return (
        out.where(F.col("n_lines_kept") > 0)
        .select(
            "id",
            F.array_join(
                F.transform(F.col("_k"), lambda x: x["line"]), "\n"
            ).alias("text"),
            F.col("n_lines_kept").cast("long"),
            F.col("n_lines_dropped").cast("long"),
        )
    )
