"""Training-corpus composition: stratified sampling / up-weighted
mixing and fixed-budget sequence packing.

Engine extensions beyond the reference (task brief: "operations a
large-scale training-data pipeline would need"). Both are pure JVM
expressions with exact DuckDB mirrors:

- :func:`mix_corpus` — per-stratum mixture weights, the
  "domain/language mixing" step of every pretraining recipe. Weight
  w keeps/upsamples a stratum deterministically: each row gets
  ``floor(w)`` full copies plus one more iff its md5-derived uniform
  draw falls under ``frac(w)``. md5 (not Spark's xxhash64 / DuckDB's
  hash) because both engines must agree bit-for-bit on the draw.
- :func:`pack_token_spans` — concatenate-and-cut sequence packing:
  within a bucket, documents are laid end-to-end in doc_id order and
  cut into ``budget``-token packs; a document straddling a cut is
  SPLIT (one row per overlapped pack with its in-doc token span) —
  the GPT-style pretraining batch layout. One window per bucket, so
  parallelism = n_buckets and no global sort; at 100 TB size
  n_buckets so a bucket's token count fits a task comfortably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^32 as the draw denominator: md5's first 8 hex digits, uniform on
# [0, 2^32)
_DRAW_MOD = 1 << 32


def _uniform_draw(id_col, seed: int) -> F.Column:
    """Deterministic uniform draw in [0, 1): md5 of "seed:id", first 8
    hex digits / 2^32. Identical formula in oracle.py's mixture SQL."""
    hexs = F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string")))
    return F.conv(F.substring(hexs, 1, 8), 16, 10).cast("double") / F.lit(
        float(_DRAW_MOD)
    )


def mix_corpus(docs: DataFrame, weights: dict[str, float], seed: int = 42) -> DataFrame:
    """Deterministic stratified mixture: stratum s with weight w keeps
    ``floor(w)`` copies of every row plus one more where the row's
    uniform draw < ``w - floor(w)``. Strata absent from ``weights``
    drop. Output adds ``_copy`` (0-based copy index) so downstream
    shuffles see distinct rows. Weight 0.3 subsamples, 1.0 passes
    through, 2.5 yields 2 copies plus a 50% third — the standard
    up/down-weighting of pretraining mixtures, reproducible across
    runs and engines (no rand(), no sampleBy)."""
    if not weights:
        raise ValueError("weights must name at least one stratum")
    base = F.create_map(
        *[x for k, w in weights.items() for x in (F.lit(k), F.lit(float(w)))]
    )
    w_col = base[F.col("lang")]
    draw = _uniform_draw(F.col("doc_id"), seed)
    n_copies = F.floor(w_col) + F.when(draw < w_col - F.floor(w_col), 1).otherwise(0)
    out = docs.withColumn("_n_copies", n_copies.cast("int")).where(
        F.col("_n_copies") > 0
    )
    return out.withColumn(
        "_copy", F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1))
    ).drop("_n_copies")


def pack_token_spans(
    docs: DataFrame,
    budget: int,
    n_buckets: int = 64,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(bucket, pack_id, doc_id, [tiebreaks...], doc_tok_start,
    doc_tok_end, pack_tok_start): the concatenate-and-cut packing
    layout.

    Within ``bucket = doc_id % n_buckets``, documents are concatenated
    in ``(doc_id, *tiebreak_cols)`` order; pack p of a bucket owns the
    token range [p·budget, (p+1)·budget). A document whose whitespace
    tokens span [before, before+n) emits one row per pack it overlaps,
    carrying the in-doc token sub-span ``[doc_tok_start, doc_tok_end)``
    and where that sub-span starts inside the pack. Every pack is
    exactly ``budget`` tokens except each bucket's last.

    **Unique-key requirement**: ``(doc_id, *tiebreak_cols)`` must
    uniquely identify input rows, or the layout is both
    order-nondeterministic and (under the SQL-default RANGE frame)
    silently broken — tied keys are RANGE peers, so every copy's
    cumulative sum would include all copies' tokens and packs stop
    tiling [0, budget). The window therefore forces a ROWS frame
    (peer-proof) and callers packing duplicated corpora — e.g.
    :func:`mix_corpus` output, which reuses ``doc_id`` across copies —
    must pass ``tiebreak_cols=("_copy",)`` (tested in
    tests/test_sampling.py::test_pack_duplicate_ids). Deterministic
    given a unique key; no shuffle-order dependence otherwise."""
    n_toks = F.size(F.split(F.col("text"), " "))
    d = docs.select(
        "doc_id",
        (F.col("doc_id") % n_buckets).cast("long").alias("bucket"),
        *[F.col(c) for c in tiebreak_cols],
        n_toks.cast("long").alias("_n"),
    ).where(F.col("_n") > 0)
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", *tiebreak_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_before", F.sum("_n").over(w) - F.col("_n"))
    first_p = F.floor(F.col("_before") / budget)
    last_p = F.floor((F.col("_before") + F.col("_n") - 1) / budget)
    d = d.withColumn("pack_id", F.explode(F.sequence(first_p, last_p)))
    pack_lo = F.col("pack_id") * budget
    return d.select(
        "bucket",
        "pack_id",
        "doc_id",
        *tiebreak_cols,
        F.greatest(F.lit(0).cast("long"), pack_lo - F.col("_before")).alias(
            "doc_tok_start"
        ),
        F.least(F.col("_n"), pack_lo + budget - F.col("_before")).alias("doc_tok_end"),
        F.greatest(F.lit(0).cast("long"), F.col("_before") - pack_lo).alias(
            "pack_tok_start"
        ),
    )


def chunk_token_windows(docs: DataFrame, size: int, stride: int | None = None) -> DataFrame:
    """(id, chunk_idx, tok_start, tok_end, chunk): overlapping
    fixed-size token windows per document — the retrieval/RAG chunking
    companion to :func:`pack_token_spans` (which packs ACROSS
    documents; this windows WITHIN each one). Windows start every
    ``stride`` tokens (default ``size``, i.e. disjoint) until the
    start passes the end of the document; the last window may be
    short. Pure projection + explode, shuffle-free, deterministic;
    exact SQL mirror in the ``chunk_windows`` oracle."""
    if stride is None:
        stride = size
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    words = F.split(F.col("text"), " ")
    d = docs.select(
        F.col("doc_id").alias("id"), words.alias("_w"), F.size(words).alias("_n")
    ).where(F.col("_n") > 0)
    n_chunks = F.floor((F.col("_n") - 1) / stride) + 1
    d = d.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
    )
    start = F.col("chunk_idx").cast("long") * stride
    end = F.least(F.col("_n").cast("long"), start + size)
    return d.select(
        "id",
        F.col("chunk_idx").cast("long"),
        start.alias("tok_start"),
        end.alias("tok_end"),
        F.concat_ws(
            " ", F.slice(F.col("_w"), (start + 1).cast("int"), (end - start).cast("int"))
        ).alias("chunk"),
    )


def sample_exact_k(df: DataFrame, k: int) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen uniformly
    WITHOUT replacement and deterministically: keep the k smallest
    md5 draws (consistent hash sampling — the draw is a pure function
    of (seed 101, doc_id), so the sample is stable across runs,
    engines, task retries, and even across appends that don't touch
    the chosen ids; rerunning on a grown corpus keeps every
    still-present previous pick whose draw remains in the top k).
    Adds ``sample_rank`` (1-based within stratum, draw order,
    id tiebreak). Contrast with :func:`mix_corpus`, which takes a
    FRACTION per stratum — this takes an exact count, the shape eval
    sets and human-audit batches need.

    Scale shape: one hash projection + a rank-≤-k window. Catalyst's
    WindowGroupLimit inserts a per-task partial top-k BEFORE the
    stratum exchange (the TF-IDF/domain-cap pattern verified in
    PLANS.md), so a 10^11-row stratum ships k rows per map task, never
    a full sort."""
    if k <= 0:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy("lang").orderBy("_draw", "doc_id")
    return (
        df.withColumn("_draw", _uniform_draw(F.col("doc_id"), 101))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= k)
        .drop("_draw")
    )
