"""Document deduplication for training-data pipelines.

Beyond the reference's operator set (Bootleg has only a train-time
in-batch candidate dedup, bootleg/data.py:309-351, and a triple dedup
need from the north_rule); these are the ops a 100 TB web-corpus
pipeline runs before training:

- exact dedup (content-hash groupBy),
- MinHash + LSH banding (shingle → per-band min-hash → bucket join),
- word-n-gram Jaccard verification,
- SimHash near-dup signatures.

Design for scale: shingling stays JVM-side (sequence/transform, no
Python); candidate pairs come from equi-joins on selective keys
(band buckets / shingles), never a cross join; all pair joins are
shuffle joins with AQE skew splitting; md5-based hashes keep Spark and
the DuckDB oracle bit-identical.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from bootleg_spark.operators.ids import fixpoint


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: (content_hash, keep_id, dup_count). keep_id = min id."""
    return (
        docs.select(F.md5(F.col("text")).alias("content_hash"), F.col("doc_id").alias("id"))
        .groupBy("content_hash")
        .agg(
            F.min("id").cast("long").alias("keep_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """All doc pairs with word-3-gram Jaccard ≥ threshold.

    shingle equi-join → per-pair intersection count → sizes join →
    |A∩B| / (|A|+|B|-|A∩B|). The shuffle key is the shingle — joined on
    its xxhash64 (8-byte long) rather than the string, cutting shuffle
    bytes severalfold with identical output absent 64-bit collisions;
    frequent shingles are the skew risk (AQE skew-join splits them)."""
    dshf = doc_shingle_arrays(docs)
    sizes = dshf.select("id", F.size("dsh").cast("long").alias("n_shingles"))
    shh = dshf.select(
        "id", F.explode(F.transform(F.col("dsh"), lambda s: F.xxhash64(s))).alias("sh64")
    )
    a = shh.select(F.col("id").alias("id_a"), "sh64")
    b = shh.select(F.col("id").alias("id_b"), "sh64")
    inter = (
        a.join(b, "sh64")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def doc_shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(id, dsh): each doc's DISTINCT word-n-gram shingles (words split
    on single spaces, joined by one space, empty shingles dropped) as an
    in-row array — the package's one shingler, mirrored in SQL by
    ``oracle.shingle_body_sql``. Shingling, the empty-shingle filter and
    the per-doc distinct are strictly per-document, so they compute
    inside the row (guide §2.4: remove shuffles outright): a global
    ``.distinct()`` exchange of every (id, shingle) row (2.6 M rows at
    sf1.0) becomes ``array_distinct`` in the scan projection, and every
    downstream per-doc reduction (band minima, set sizes) follows
    in-row too. Docs with fewer than n words have no row. The
    filter runs BEFORE the projection on the cheap equivalent predicate
    ``size(split(text)) >= n`` (for n ≥ 2 every shingle contains a
    separator so the length>0 filter is vacuous; the n == 1 branch
    keeps it) — filtering on a derived array column AFTER projecting it
    lets predicate pushdown substitute the whole expression into the
    filter and every row pays it twice (see doc_fingerprints)."""
    w = F.split(F.col("text"), " ")
    d0 = docs.where(F.size(w) >= n).select(F.col("doc_id").alias("id"), w.alias("w"))
    arr = shingle_array_expr(F.col("w"), n)
    if n == 1:
        arr = F.filter(arr, lambda s: F.length(s) > 0)
    out = d0.select("id", F.array_distinct(arr).alias("dsh"))
    if n == 1:
        out = out.where(F.size("dsh") >= 1)
    return out


def shingle_array_expr(wc, n: int):
    """In-row word-n-gram array over a words-array column, as a chain of
    n−1 ``zip_with`` concats over shifted slices. Equivalent to
    ``transform(sequence(0, size-n), i -> concat_ws(' ', slice(w, i+1, n)))``
    but 2.6× faster measured at sf1.0 (1.54 s → 0.58 s for the distinct
    shingle projection): the per-element lambda allocates no slice array
    and runs one binary concat per step instead of index arithmetic +
    O(n) slice + concat_ws."""
    m = F.size(wc) - (n - 1)
    arr = F.slice(wc, 1, m)
    for j in range(1, n):
        arr = F.zip_with(
            arr, F.slice(wc, j + 1, m), lambda acc, x: F.concat(acc, F.lit(" "), x)
        )
    return arr


def _band_minima_arrays(dshf: DataFrame, n_bands: int) -> DataFrame:
    """(id, band, min_hash) from a (id, dsh) shingle-array frame.

    Each band b keeps min(md5(b || ':' || shingle)) over the doc's
    distinct shingles, an ``array_min(transform(...))`` computed inside
    the row: the r06 form paid one groupBy(id) exchange over every
    (id, shingle) row; this pays none — the scan projection emits
    the finished n_bands-wide row per doc, and only the n_bands-row
    unpivot leaves the row."""
    aggs = [
        F.array_min(
            F.transform(F.col("dsh"), lambda s: F.md5(F.concat(F.lit(f"{b}:"), s)))
        ).alias(f"_h{b}")
        for b in range(n_bands)
    ]
    per_doc = dshf.select("id", *aggs)
    stack_args = ", ".join(f"{b}, _h{b}" for b in range(n_bands))
    return per_doc.select(
        "id", F.expr(f"stack({n_bands}, {stack_args}) AS (band, min_hash)")
    ).select("id", F.col("band").cast("int").alias("band"), "min_hash")


def minhash_band_buckets(docs: DataFrame) -> DataFrame:
    """Per-(doc, band) MinHash bucket keys.

    Each band b hashes every shingle with md5(b || ':' || shingle) and
    keeps the minimum — b independent min-hashes. Docs sharing a
    (band, min_hash) bucket are near-dup candidates with probability
    rising in their Jaccard similarity (standard LSH banding). md5-hex
    min is an order statistic on strings → identical in any engine.

    r07: computed fully in-row (:func:`doc_shingle_arrays` +
    :func:`_band_minima_arrays`) — zero exchanges before the bucket
    rows exist, where the r06 plan paid the shingle ``distinct`` and
    the groupBy(id) shuffles first.
    """
    return _band_minima_arrays(doc_shingle_arrays(docs), 8)


def _bucket_pairs(buckets: DataFrame, key_cols: tuple = ("band", "min_hash")) -> DataFrame:
    """Distinct (id_a < id_b) doc pairs sharing a (band, min_hash) bucket.

    r06 formed these with a bucket self-join, which (a) executed the
    whole band-minima subplan TWICE — one evaluation per join side, the
    dominant cost of the candidate stage once the minima were in-row —
    and (b) materialized every n² ordered bucket combination before the
    ``id_a < id_b`` filter. One groupBy instead: collect each bucket's
    (distinct — one row per (id, band)) ids, sort in-row, and emit only
    the i < j combinations. The subplan runs once, the shuffle carries
    one row per bucket member (same bytes as ONE side of the old join),
    and nothing bigger than the final pair set is ever produced.

    Skew note: a pathological bucket (n docs sharing a band minimum)
    emits its n·(n-1)/2 pairs from one row, where the join form spread
    them across the build side's AQE splits; bucket width is the LSH
    design parameter (more bands / wider band hashes), not something to
    salt after the fact — the r06 join form had the same n² output."""
    grouped = (
        buckets.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # two-level explode, NOT an in-row flatten of all n·(n-1)/2 pair
    # structs: a single flatten would materialize a hot bucket's whole
    # quadratic pair array in one allocation (GBs for a 10^5-doc bucket
    # at production scale), while Generate streams. ids is sorted
    # ascending and distinct (one row per (id, bucket)), so taking
    # partners strictly after position i yields exactly the id_a < id_b
    # combinations.
    step1 = grouped.select("ids", F.posexplode("ids").alias("_i", "id_a"))
    out = step1.select(
        "id_a",
        F.explode(
            F.slice("ids", F.col("_i") + F.lit(2), F.size("ids"))
        ).alias("id_b"),
    )
    return out.distinct()


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket."""
    return _bucket_pairs(minhash_band_buckets(docs))


def minhash_verified_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """The standard two-stage near-dup pipeline: cheap LSH banding
    proposes candidate pairs, exact Jaccard over shingle sets verifies
    them. At corpus scale the verify join touches only candidate pairs,
    never all O(N²).

    r07 verify plan (guide §8: decide with small rows, attach payloads
    once): the r06 form verified by re-exploding both docs of every
    candidate pair to shingle grain — cand ⋈ shingles(id_a) ⋈
    shingles(id_b) — which materialized 490 M rows for 8.1 M candidate
    pairs at sf1.0 and then paid a pair-grain groupBy over them (34-47 s,
    the most expensive query in the bench). Each doc's distinct shingle
    set is small (~52 at sf1.0; bounded by doc length), so the set
    travels as ONE in-row array of xxhash64 longs: two equi-joins attach
    the packed arrays to the pair rows (the optimizer broadcasts the
    doc-set dim when its estimate allows — at corpus scale the same
    plan degrades gracefully to a shuffle join on id), and
    ``size(array_intersect(...))`` computes n_inter inside the row.
    The candidates are distinct pairs before the joins, so each pair is
    verified once: on the near_dup benchmark input (seed 1) the raw
    bucket stream holds 251,487 rows for 45,566 pairs, and verifying it
    before deduplicating ran ``array_intersect`` ~5.5× per pair
    (``dedup.minhash_verified_s`` 2.04 s then, 1.35 s now: median of six
    traced runs, 3 task cores). On sf0.1 (87,781 rows for 82,377 pairs)
    the order does not matter. Same output: n_inter
    counts distinct shared shingles exactly as the oracle's join-count
    over distinct (id, shingle) rows, still modulo the documented
    ~2⁻⁶⁴ xxhash64 collision tolerance the r06 verify join had."""
    # lazy localCheckpoint: the shingle-array frame feeds BOTH the
    # band-minima/bucket branch and the packed-set attach branch, and a
    # DAG-as-tree would evaluate the scan + shingling once per branch.
    # Checkpoint blocks are GC-cleaned (ContextCleaner), unlike a
    # persist leak — the same idiom as rel_pattern_apply/bootstrap.
    dshf = doc_shingle_arrays(docs).localCheckpoint(eager=False)
    buckets = _band_minima_arrays(dshf, 8)
    cand = _bucket_pairs(buckets)
    sets = dshf.select(
        "id",
        F.transform(F.col("dsh"), lambda s: F.xxhash64(s)).alias("sh64s"),
        F.size("dsh").cast("long").alias("n"),
    )
    joined = cand.join(
        sets.select(
            F.col("id").alias("id_a"), F.col("sh64s").alias("_sa"), F.col("n").alias("n_a")
        ),
        "id_a",
    ).join(
        sets.select(
            F.col("id").alias("id_b"), F.col("sh64s").alias("_sb"), F.col("n").alias("n_b")
        ),
        "id_b",
    )
    # explode(array(..)) is a one-row Generate whose output attribute the
    # threshold filter cannot be pushed through: without it, predicate
    # pushdown folds the filter into the second join's condition and the
    # array_intersect runs up to 3× per pair (twice in the condition,
    # once in the projection — read the r06 plan); with it, once.
    scored = joined.select(
        "id_a",
        "id_b",
        "n_a",
        "n_b",
        F.explode(F.array(F.size(F.array_intersect("_sa", "_sb")).cast("long"))).alias(
            "n_inter"
        ),
    )
    out = scored.withColumn(
        "jaccard",
        F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
    ).where(F.col("jaccard") >= threshold)
    # no final distinct: the candidates are already distinct pairs and
    # jaccard is a function of the pair
    return out.select("id_a", "id_b", "jaccard")


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc (Charikar): sign of the weighted sum of
    token-hash bit vectors. md5-based bits; Arrow-batched UDF (the
    bit-vote accumulation has no good built-in expression)."""

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        # vectorized over the batch: md5 only the batch's UNIQUE tokens
        # (Zipfian input -> small vocab), expand every hash to a ±1 bit
        # matrix with one numpy shift, then per-doc vote = one fancy-index
        # row-sum. Replaces the round-1 per-token x per-bit Python loop
        # (~10x on this corpus).
        import numpy as np

        tok_lists = [(t or "").split() for t in texts]
        vocab: dict[str, int] = {}
        for toks in tok_lists:
            for tok in toks:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
        shifts = np.arange(64, dtype=np.uint64)
        if vocab:
            hs = np.empty(len(vocab), dtype=np.uint64)
            for tok, i in vocab.items():
                hs[i] = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            bitmat = (((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int32) * 2) - 1
        else:
            bitmat = np.zeros((0, 64), dtype=np.int32)
        out = np.zeros(len(texts), dtype=np.int64)
        powers = np.uint64(1) << shifts
        for j, toks in enumerate(tok_lists):
            if not toks:
                continue
            idx = np.fromiter((vocab[t] for t in toks), dtype=np.int64, count=len(toks))
            votes = bitmat[idx].sum(axis=0)
            sig = int(powers[votes > 0].sum(dtype=np.uint64))
            out[j] = sig - (1 << 64) if sig >= (1 << 63) else sig
        return pd.Series(out, dtype="int64")

    return docs.select(F.col("doc_id").alias("id"), _simhash(F.col("text")).alias("simhash"))


def simhash_near_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup candidates: equal 16-bit SimHash band (standard 4-band
    trick ⇒ catches all pairs within Hamming distance 3)."""
    sig = simhash_signatures(docs)
    bands = sig.select(
        "id",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band"),
        "simhash",
    ).withColumn(
        "band_key",
        F.expr("shiftrightunsigned(simhash, band * 16)").bitwiseAND(
            F.lit((1 << 16) - 1)
        ),
    )
    # groupBy-collect pair generation (see _bucket_pairs): the r06
    # self-join evaluated the SimHash pandas-UDF subplan once per join
    # side — the whole signature pass ran twice
    return _bucket_pairs(bands, key_cols=("band", "band_key"))


def _local_roots(batches):
    """mapInArrow body: star edges (src, dst) both ways between every
    node of one partition's (id_a, id_b) pairs and its root, the
    smallest id of its local component (a root keeps a self-edge).
    ``np.unique`` relabels ids to sorted indices (str in code point
    order, which is Spark's UTF-8 byte order), then min-label
    propagation with pointer jumping runs until no label moves."""
    import numpy as np
    import pyarrow as pa

    batches = list(batches)
    if not batches:
        return
    typ = batches[0].schema.field(0).type
    ids = pa.concat_arrays(
        [b.column(0) for b in batches] + [b.column(1) for b in batches]
    ).to_numpy(zero_copy_only=False)
    nodes, inv = np.unique(ids, return_inverse=True)
    src, dst = np.split(inv, 2)
    label = np.arange(len(nodes))
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, src, label[dst])
        np.minimum.at(nxt, dst, label[src])
        nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            break
        label = nxt
    roots = nodes[label]
    cols = [np.concatenate([nodes, roots]), np.concatenate([roots, nodes])]
    yield pa.RecordBatch.from_arrays([pa.array(c, typ) for c in cols], ["src", "dst"])


def dup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """(id, cluster_id): connected components over near-dup pairs —
    cluster_id = the smallest doc id reachable through the pair graph.
    The keep-one-per-cluster step every dedup pipeline ends with
    (keep = rows where id == cluster_id; singletons are their own
    cluster after a left join back to the corpus).

    Pre-contraction first (Kiveris et al., SoCC 2014): one
    ``mapInArrow`` runs :func:`_local_roots` over each partition's
    pairs, with a working set of O(edges in one partition), and emits
    (id, local root) star edges. The star graph has the pair graph's
    components; labels are seeded with each id's smallest root, so a
    component one partition's edges connect arrives settled.

    Then iterative min-label propagation WITH pointer jumping over the
    star edges: each round (a) takes the per-node min of neighbor labels
    across the undirected edges, then (b) compresses label chains by
    replacing each label with its own label (labels only ever decrease,
    so label[label] is defined and ≤ label): O(log n) rounds, not
    O(diameter). Each round is two shuffle joins + one groupBy over the
    LABEL table (O(V) rows) and runs as one Spark job through
    :func:`ids.fixpoint`, which holds the lineage rule and raises
    ``ValueError`` if a label still changed in round ``max_iter``.
    """
    t = pairs.schema["id_a"].dataType
    edges = (
        pairs.select("id_a", F.col("id_b").cast(t))
        .dropna()
        .mapInArrow(_local_roots, StructType([StructField("src", t), StructField("dst", t)]))
        .distinct()
        .localCheckpoint(eager=False)  # read by every round
    )

    def step(labels: DataFrame) -> DataFrame:
        # (a) per-node min of neighbors' labels; _old is the round's start
        prop = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        merged = labels.join(prop, "id", "left").select(
            "id",
            F.col("label").alias("_old"),
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        )
        # (b) pointer jump: label <- label[label]
        lookup = merged.select(F.col("id").alias("label"), F.col("label").alias("_ll"))
        return (
            merged.join(lookup, "label", "left")
            .withColumn("label", F.least("label", F.coalesce("_ll", "label")))
            .select("id", "label", (F.col("label") != F.col("_old")).alias("_changed"))
        )

    # every node is a src, and its smallest dst is its smallest root
    labels = edges.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("label"))
    return fixpoint(labels, step, max_iter, "dup_clusters").select(
        "id", F.col("label").alias("cluster_id")
    )


def dedup_keep(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id, cluster_id, keep): every corpus doc labeled with its near-dup
    cluster and a keep flag — the "keep one representative per cluster"
    step every dedup pipeline ends with. Singletons (docs in no pair)
    are their own cluster; the representative is the smallest id.

    One left join of the corpus against the cluster table, which holds
    only ids that appear in a pair (O(duplicates) rows, typically a
    small fraction of the corpus). It plans as a sort-merge join with
    both sides shuffled on id: the cluster table is a checkpointed RDD
    with no size estimate, so the planner never broadcasts it (local
    sessions run with AQE off)."""
    clusters = dup_clusters(pairs)
    labeled = docs.select(F.col("doc_id").cast("long").alias("id")).join(
        clusters, "id", "left"
    )
    return labeled.select(
        "id",
        F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
    ).withColumn("keep", (F.col("id") == F.col("cluster_id")).cast("int"))
