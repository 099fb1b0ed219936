"""Prediction assembly: per-mention rows → one output row per page.

Reference flow (SURVEY.md §2.10): ``merge_subsentences``
(eval_utils.py:712-911) flattens (sent, subsent) rows back to one row
per sentence at computed offsets, then ``write_data_labels``
(eval_utils.py:942-1067) re-joins predictions to the original input
lines — 230 lines of mmap + pool code. In Spark both are one
``groupBy(page).agg(sort_array(collect_list(...)))`` — the shuffle IS
the barrier the reference hand-builds with its batched_pred_iter
sentence hold-back logic (eval_utils.py:223-430).

Output schema mirrors the reference's JSONL sink fields
(eval_utils.py:1193-1199): aliases, qids, probs, char_spans per line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_predictions(
    linked: DataFrame,
    qid_col: str = "qid_pred",
    extra_arrays: dict[str, str] | None = None,
) -> DataFrame:
    """One row per page: mention-ordered parallel arrays.

    ``extra_arrays`` maps output name → input column for additional
    parallel arrays (e.g. {"probs": "prob", "char_spans": "char_start"}).
    """
    extras = extra_arrays or {}
    struct_cols = [F.col("mention_pos").alias("_o"), F.col("alias"), F.col(qid_col).alias("_q")]
    for out_name, in_col in extras.items():
        struct_cols.append(F.col(in_col).alias(f"_x_{out_name}"))
    g = linked.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct(*struct_cols))).alias("m")
    )
    def _field(name: str):
        # NB: F.transform passes (element, index) to two-arg lambdas, so a
        # default-arg closure trick would receive the index — use a factory
        return F.transform("m", lambda x: x[f"_x_{name}"]).alias(name)

    out = g.select(
        "doc_id",
        F.transform("m", lambda x: x["alias"]).alias("aliases"),
        F.transform("m", lambda x: x["_q"]).alias("qids"),
        *[_field(name) for name in extras],
    )
    return out


def filter_weak_labels(mentions: DataFrame, use_weak_label: bool = False) -> DataFrame:
    """Anchor filter (dataset.py:536-541): when ``use_weak_label`` is
    False, keep only gold (anchor) mentions."""
    if use_weak_label:
        return mentions
    return mentions.where(F.col("gold"))


def prune_to_entities(entities: DataFrame, keep_qids: DataFrame) -> DataFrame:
    """Restrict the entity dim to a QID subset and re-assign contiguous
    eids starting at 2 (rows 0/1 stay reserved for NC/PAD) — the Spark
    form of EntityProfile.prune_to_entities (entity_symbols.py:756-796:
    left-semi restriction + eid reindex).

    eids come from :func:`bootleg_spark.operators.ids.dense_ids` — a
    two-phase distributed numbering, NOT a global single-partition
    window (a single-task wall at the reference's 5.8 M entities)."""
    from bootleg_spark.operators.ids import dense_ids

    # shuffle_hash: build side (the keep set) is bounded by the entity
    # dim; skips the two sort passes a SortMergeJoin adds over the full
    # entity dim (triples.py precedent)
    kept = entities.join(
        keep_qids.select("qid").hint("shuffle_hash"), "qid", "left_semi"
    )
    return dense_ids(kept, "qnum", id_col="new_eid", start=2)
