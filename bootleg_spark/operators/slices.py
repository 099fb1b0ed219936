"""Slice incidence construction (bootleg/slicing/slice_dataset.py).

The reference builds, per (sentence, slice), two parallel vectors over
the sentence's predict-aliases (slice_dataset.py:490-521):
- ``alias_slice_incidence``: 1 iff the mention's slice probability
  exceeds 0.5;
- ``slices_padded``: the probabilities themselves, -1.0 at pad slots
  (masked by the indicator-head loss).

Upstream of that (slice_dataset.py:320-362 + data_utils.py:8-34):
- with use_weak_label=False only gold (anchor) mentions survive, and
  alias indices are REINDEXED to be contiguous over the survivors;
- slices with zero member mentions in a sentence are dropped;
- FINAL_LOSS (the all-mentions slice) is added with probability 1;
- (sent_idx, subslice_idx) uniqueness is asserted after the build.

Here the whole construction is two relational steps: an incidence ROW
table (one row per (sent, slice, mention) — the normalized form every
aggregate downstream wants) and an optional padded-ARRAY assembly that
reproduces the reference's memmap layout exactly. The reference's
mmap + pool machinery (slice_dataset.py:393-487) is the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FINAL_LOSS = "final_loss"


def build_slice_incidence(
    mentions: DataFrame,
    slice_probs: DataFrame,
    use_weak_label: bool = False,
    split: str = "train",
) -> DataFrame:
    """(sent_idx, slice_name, alias_new_idx, prob, in_slice).

    ``mentions``: one row per (sentence, predict-alias) with a gold
    flag; ``slice_probs``: (sent, alias_idx, slice_name, prob) sparse
    membership rows (from synthetic derivation or
    ``sources.sentences.sentences_to_slice_probs`` on real train
    files). The reference's two axes (slice_dataset.py:287-346):

    - ``use_weak_label=False`` (any split): only gold mentions remain
      and indices are REINDEXED contiguous — FINAL_LOSS added before
      the reindex lands on every kept mention either way
      (correct_not_augmented_dict_values, data_utils.py:8-34);
    - ``use_weak_label=True, split != "train"``: every mention keeps
      its position (arrays stay num_alias2pred wide) but slice
      membership AND FINAL_LOSS are restricted to gold mentions
      (slice_dataset.py:293-309) — non-gold slots score 0/-1.0 in
      :func:`slice_feature_arrays`, the reference's dev-split shape
      (tests/test_data/test_slice_data.py test_non_gold_aliases);
    - ``use_weak_label=True, split == "train"``: everything counts.
    """
    if not use_weak_label:
        kept = mentions.where(F.col("gold"))
        w = Window.partitionBy("sent_idx").orderBy("alias_idx")
        reindexed = kept.select(
            "sent_idx",
            "alias_idx",
            (F.row_number().over(w) - 1).cast("int").alias("alias_new_idx"),
        )
        members = reindexed
    else:
        reindexed = mentions.select(
            "sent_idx",
            "alias_idx",
            F.col("alias_idx").cast("int").alias("alias_new_idx"),
            F.col("gold").alias("_gold"),
        )
        members = (
            reindexed if split == "train" else reindexed.where(F.col("_gold"))
        ).drop("_gold")
    probs = slice_probs.select(
        "sent_idx",
        "alias_idx",
        "slice_name",
        F.col("prob").cast("double").alias("prob"),
    )
    named = members.join(probs, ["sent_idx", "alias_idx"])
    out = named.unionByName(
        members.withColumn("slice_name", F.lit(FINAL_LOSS)).withColumn("prob", F.lit(1.0))
    )
    return out.select(
        "sent_idx",
        "slice_name",
        "alias_new_idx",
        F.round("prob", 6).alias("prob"),
        (F.col("prob") > 0.5).alias("in_slice"),
    )


def slice_feature_arrays(incidence: DataFrame, max_alias2pred: int | None = None) -> DataFrame:
    """(sent_idx, slice_name, incidence array<int>, probs array<double>):
    the reference's memmap row layout (slice_dataset.py:490-521) — 1-hot
    incidence at positions with prob > 0.5, probabilities padded with
    -1.0 to ``max_alias2pred`` (global max mentions/sentence when not
    given; the reference computes the same global max,
    slice_dataset.py:360-377). The auto-derived width
    (max alias_new_idx + 1) is exact for reindexed incidence
    (use_weak_label=False); for the eval-split weak-label shape, where
    non-gold positions carry no incidence rows but still occupy array
    slots, pass the true per-corpus max explicitly."""
    if max_alias2pred is None:
        max_alias2pred = (
            incidence.agg(F.max("alias_new_idx")).first()[0] or 0
        ) + 1
    pairs = incidence.groupBy("sent_idx", "slice_name").agg(
        F.array_sort(F.collect_list(F.struct("alias_new_idx", "prob", "in_slice"))).alias("m")
    )
    idx_range = F.sequence(F.lit(0), F.lit(max_alias2pred - 1))

    def _lookup(field: str, default):
        def at(i):
            pos = F.filter(F.col("m"), lambda x: x["alias_new_idx"] == i)
            return F.when(
                F.size(pos) > 0, F.element_at(pos, 1)[field].cast("double")
            ).otherwise(F.lit(default))

        return at

    inc_at = _lookup("in_slice", 0.0)
    prob_at = _lookup("prob", -1.0)
    return pairs.select(
        "sent_idx",
        "slice_name",
        F.transform(idx_range, lambda i: inc_at(i).cast("int")).alias("incidence"),
        F.transform(idx_range, prob_at).alias("probs"),
    )
