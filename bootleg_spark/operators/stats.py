"""Aggregation operators (reference SURVEY.md §2.4):

- QID popularity counts (get_train_qid_counts.py:38-61)
- entity/alias histograms (scripts compute_statistics.py:109-195)
- candidate-count histogram (compute_statistics.py:57-66)
- quantile bucketing of QID counts (dataset.py:484-490,552-555)
- sliced accuracy scorer (bootleg/scorer.py:47-126)
- recall@k (cand_gen/eval.py:309-370)

Every hand-rolled Counter + multiprocessing merge in the reference is a
single groupBy here — Spark's partial aggregation (map-side combine) is
exactly the reference's per-worker-Counter-then-merge pattern, done by
the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def qid_counts(linked: DataFrame) -> DataFrame:
    """(qid, cnt): entity popularity over linked mentions — defines the
    tail/torso/head split."""
    return linked.groupBy("qid").agg(F.count("*").cast("long").alias("cnt"))


def alias_counts(mentions: DataFrame) -> DataFrame:
    """(alias, cnt): mention-text histogram."""
    return mentions.groupBy("alias").agg(F.count("*").cast("long").alias("cnt"))


def alias_text_counts(docs: DataFrame, alias_df: DataFrame) -> DataFrame:
    """(alias_text, cnt): the reference's ``alias_text_occurrences``
    counter (compute_statistics.py:118-132) — every raw n-gram
    (n = 1..2) of the sentence whose lnrm form is in the
    alias dictionary counts one occurrence, with NO POS/boundary
    filtering (unlike the mention extractor, which is why this is a
    separate statistic). N-grams are generated JVM-side
    (transform-over-sequence window slices, whole-stage codegen), then
    one broadcast join against the alias dim.

    Tokenization is whitespace-COLLAPSING (the reference calls
    ``sentence.split()``, not ``split(' ')``)."""
    from bootleg_spark.functions.lnrm import lnrm_ascii_col

    words = F.split(F.trim(F.col("text")), r"\s+")

    def _gram_fn(n: int):
        # NB: a `lambda i, n=n` would be seen as two-arg by F.transform,
        # which then passes (element, INDEX) — the index would silently
        # override n (same trap as predictions.merge_predictions)
        return lambda i: F.concat_ws(" ", F.slice(words, i, n))

    gram_arrays = []
    for n in range(1, 3):
        seq = F.sequence(F.lit(1), F.size(words) - F.lit(n - 1))
        g = F.transform(seq, _gram_fn(n))
        gram_arrays.append(
            F.when(F.size(words) >= n, g).otherwise(F.array().cast("array<string>"))
        )
    exploded = docs.select(F.explode(F.flatten(F.array(*gram_arrays))).alias("gram"))
    normed = exploded.select(lnrm_ascii_col(F.col("gram")).alias("alias_text"))
    dim = alias_df.select(F.col("alias").alias("alias_text"))
    return (
        normed.join(F.broadcast(dim), "alias_text")
        .groupBy("alias_text")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def alias_entity_pair_counts(linked: DataFrame) -> DataFrame:
    """(pair, cnt): the reference's ``alias_entity_pair`` counter
    (compute_statistics.py:136-140: key = alias + "|" + qid)."""
    return (
        linked.groupBy("alias", "qid")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(F.concat_ws("|", "alias", "qid").alias("pair"), "cnt")
    )


def mentions_per_doc_hist(mentions: DataFrame) -> DataFrame:
    """(n_mentions, n_docs): distribution of per-page mention counts."""
    per_doc = mentions.groupBy("doc_id").agg(F.count("*").alias("n_mentions"))
    return per_doc.groupBy("n_mentions").agg(F.count("*").cast("long").alias("n_docs")).select(
        F.col("n_mentions").cast("long"), "n_docs"
    )


def cand_count_hist(alias_cands: DataFrame) -> DataFrame:
    """(n_cands, n_aliases): candidates-per-alias distribution."""
    per_alias = alias_cands.groupBy("alias").agg(F.count("*").alias("n_cands"))
    return per_alias.groupBy("n_cands").agg(F.count("*").cast("long").alias("n_aliases")).select(
        F.col("n_cands").cast("long"), "n_aliases"
    )


def qid_count_buckets(counts: DataFrame, exact: bool = False) -> DataFrame:
    """(qid, cnt, bucket): popularity bucket = number of the 21 evenly
    spaced quantiles of cnt that are strictly below cnt
    (dataset.py:484-490 semantics: np.quantile grid, mention score =
    index of its count's bucket).

    Default is ``percentile_approx`` (t-digest, map-side mergeable —
    the quantile grid never funnels every count through one reducer);
    ``exact=True`` uses exact ``percentile`` for oracle comparison and
    small dims — at 5.8M+ entities exact percentile aggregates all
    values into a single reducer state, so approx is the scale default.
    """
    qs = [i / 20 for i in range(21)]
    fn = "percentile" if exact else "percentile_approx"
    quant = counts.select(
        F.expr(f"{fn}(cnt, array({','.join(str(q) for q in qs)}))").alias("qv")
    )
    return (
        counts.crossJoin(F.broadcast(quant))
        .withColumn(
            "bucket",
            F.size(F.filter(F.col("qv"), lambda v: v < F.col("cnt"))).cast("long"),
        )
        .select("qid", "cnt", "bucket")
    )


def duplicate_key_count(df: DataFrame, keys: list[str]) -> DataFrame:
    """Uniqueness-verification job (dataset.py:723-734 asserts
    (sent_idx, subsent_idx) unique): one row with the number of key groups
    that occur more than once (0 = invariant holds)."""
    dupes = df.groupBy(*keys).count().where(F.col("count") > 1)
    return dupes.agg(F.count("*").cast("long").alias("n_dupes"))


def slice_sampling_stats(linked: DataFrame) -> DataFrame:
    """Per-slice sampling stats (scripts sample_eval_data.py:69-150):
    mention count + distinct-page count per slice."""
    return linked.groupBy("slice_name").agg(
        F.count("*").cast("long").alias("n_mentions"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


def relations_between(kg_relations: DataFrame) -> DataFrame:
    """(subj_qid, obj_qid, rels): the sorted relation set linking each
    entity pair (kg_symbols.get_relations_between, kg_symbols.py:191-210)."""
    return kg_relations.groupBy("subj_qid", "obj_qid").agg(
        F.array_sort(F.collect_list("rel")).alias("rels")
    )


def slice_eval(linked: DataFrame, pred_col: str = "qid_pred") -> DataFrame:
    """Per-slice accuracy (scorer.py:47-126): total mentions, correct,
    accuracy ratio."""
    return (
        linked.groupBy("slice_name")
        .agg(
            F.count("*").cast("long").alias("total"),
            F.sum(F.when(F.col(pred_col) == F.col("qid_gold"), 1).otherwise(0))
            .cast("long")
            .alias("correct"),
        )
        .withColumn("accuracy", F.round(F.col("correct") / F.col("total"), 6))
    )


def recall_at_k(mention_cands: DataFrame) -> DataFrame:
    """One row per k in (1, 2, 3): fraction of mentions whose gold QID is in the top-k
    candidates (cand_gen/eval.py:309-370)."""
    pos = F.array_position(F.col("cand_qids"), F.col("qid_gold"))
    base = mention_cands.select(pos.alias("pos"))
    rows = [
        base.select(
            F.lit(k).cast("long").alias("k"),
            F.round(F.avg(F.when((F.col("pos") >= 1) & (F.col("pos") <= k), 1.0).otherwise(0.0)), 6).alias("recall"),
        )
        for k in (1, 2, 3)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, n_rows, n_nonnull, n_distinct, min_str, max_str): the
    per-column data-quality screen every ingest runs before trusting a
    new table — null coverage, exact cardinality, value ranges
    (rendered as strings so one tidy schema covers all column types).

    ONE aggregation computes every column's stats in a single input
    scan; the multiple exact count-distincts compile to Catalyst's
    Expand (one row per distinct-column per input row) + a single
    shuffle — the standard exact plan. At 10^12 rows swap the exact
    distincts for ``approx_count_distinct`` (HLL, no Expand blow-up):
    same code path, one argument — the exact form is the
    oracle-checkable twin."""
    names = cols or df.columns
    aggs = []
    for c in names:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"{c}__nn"),
            F.countDistinct(col).alias(f"{c}__nd"),
            F.min(col).cast("string").alias(f"{c}__mn"),
            F.max(col).cast("string").alias(f"{c}__mx"),
        ]
    one = df.agg(F.count(F.lit(1)).alias("__rows"), *aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("__rows").cast("long").alias("n_rows"),
                        F.col(f"{c}__nn").cast("long").alias("n_nonnull"),
                        F.col(f"{c}__nd").cast("long").alias("n_distinct"),
                        F.col(f"{c}__mn").alias("min_str"),
                        F.col(f"{c}__mx").alias("max_str"),
                    )
                    for c in names
                ]
            )
        ).alias("s")
    )
    return stacked.select("s.*")
