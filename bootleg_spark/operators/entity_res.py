"""Surface-form entity resolution — merge KG node records that denote
the same entity under different surface forms (the node-dedup step a
web-extracted KG needs beyond exact redirect chains, cf.
canonical.py).

Classic three-stage ER, each stage a scale-honest DataFrame op:

1. **Blocking** (:func:`block_records`): records get a cheap block key
   — the first token of the lnrm-normalized name — so candidate
   pairing is an equi-join within blocks, never all-pairs. lnrm is the
   reference's own normalization (utils.py:259-293 semantics, see
   functions/lnrm.py), so two spellings of one name land in one block.
2. **Verification** (:func:`verified_pairs`): within-block pairs are
   kept iff character-3-gram Jaccard of the normalized names ≥ a
   threshold — all codegen (sequence/transform/array_distinct +
   inclusion–exclusion on sizes), no Python.
3. **Clustering** (:func:`resolve_records`): verified matches feed the
   dedup suite's pointer-jumping connected components; every record
   maps to a canonical id (min record id in its cluster, singletons to
   themselves).

Skew note: block sizes are bounded by name-collision counts, not
corpus size; a pathological hot block (every record named "home") is
the same hot-key problem as the candidate join and takes the same
salting escape hatch. The verify join ships only (id, normalized
name, gram array) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bootleg_spark.functions.lnrm import lnrm_ascii_col


def _char_ngrams(col, n: int = 3):
    """Distinct character n-gram array of a string column (codegen:
    sequence + transform + substring). Strings shorter than n yield
    the whole string as the single shingle."""
    short = F.array(col)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(col) - (n - 1)),
            lambda i: col.substr(i, F.lit(n)),
        )
    )
    return F.when(F.length(col) < n, short).otherwise(grams)


def block_records(
    records: DataFrame, id_col: str = "rec_id", name_col: str = "name", ngram: int = 3
) -> DataFrame:
    """(rec_id, name, norm, block, grams, ng): lnrm-normalize the name,
    key the record by the normalized first token, and precompute the
    record's distinct character-n-gram array ONCE here (r07 /
    VERDICT r06 #4): the r06 plan derived grams from the norm strings
    AFTER the pair join, so a record in a b-record block paid the
    shingling b−1 times — linear-per-record work executed at pair
    grain. The pair join now ships the packed arrays instead."""
    norm = lnrm_ascii_col(F.col(name_col))
    out = records.select(
        id_col,
        name_col,
        norm.alias("norm"),
        F.split_part(norm, F.lit(" "), F.lit(1)).alias("block"),
    )
    grams = _char_ngrams(F.col("norm"), ngram)
    return out.withColumn("grams", grams).withColumn("ng", F.size("grams"))


def candidate_pairs(blocked: DataFrame, id_col: str = "rec_id") -> DataFrame:
    """(id1, norm1, g1, ng1, id2, norm2, g2, ng2): within-block record
    pairs, id1 < id2 (each unordered pair once), carrying each side's
    gram array from :func:`block_records`. One self-equi-join on the
    block key."""

    def side(k):
        return blocked.select(
            F.col("block"),
            F.col(id_col).alias(f"id{k}"),
            F.col("norm").alias(f"norm{k}"),
            F.col("grams").alias(f"g{k}"),
            F.col("ng").alias(f"ng{k}"),
        )

    return side(1).join(side(2), "block").where(F.col("id1") < F.col("id2")).drop("block")


def verified_pairs(pairs: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """(id1, id2, jaccard): pairs whose normalized names have character-
    n-gram Jaccard ≥ min_jaccard (rounded to 6). Intersection size via
    inclusion–exclusion on distinct-gram counts — no array_intersect
    (engines disagree on its null semantics).

    ``pairs`` must carry the g1/g2 gram arrays of the
    :func:`block_records` → :func:`candidate_pairs` chain: the gram
    width is decided once, in :func:`block_records`, and shingling
    happens once per RECORD, not once per pair."""
    missing = {"g1", "g2"} - set(pairs.columns)
    if missing:
        raise ValueError(
            f"verified_pairs needs the gram arrays {sorted(missing)}; build "
            "pairs with block_records -> candidate_pairs"
        )
    with_sets = pairs.select(
        "id1",
        "id2",
        F.size("g1").alias("n1"),
        F.size("g2").alias("n2"),
        F.size(F.array_distinct(F.concat("g1", "g2"))).alias("nu"),
    )
    jac = F.round(
        (F.col("n1") + F.col("n2") - F.col("nu")) / F.col("nu"), 6
    )
    return with_sets.select("id1", "id2", jac.alias("jaccard")).where(
        F.col("jaccard") >= min_jaccard
    )


def resolve_records(
    blocked: DataFrame, matches: DataFrame, id_col: str = "rec_id"
) -> DataFrame:
    """(rec_id, canon): canonical record id per record — the smallest
    id in its match-graph component; unmatched records map to
    themselves. Components via the dedup suite's pointer jumping."""
    from bootleg_spark.operators.graph import connected_components

    comp = connected_components(
        matches.select("id1", "id2"), subj_col="id1", obj_col="id2"
    ).withColumnRenamed("qid", id_col)
    return (
        blocked.select(id_col)
        .distinct()
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("canon"),
        )
    )
