"""Surface-form entity resolution (entity_res.py) on hand fixtures."""

import pytest

from bootleg_spark.operators.entity_res import (
    block_records,
    candidate_pairs,
    resolve_records,
    verified_pairs,
)


@pytest.fixture()
def records(spark):
    rows = [
        ("r1", "Apple (organization)"),
        ("r2", "APPLE (ORGANIZATION) ."),   # dirty copy of r1: must merge
        ("r3", "Apple (place)"),            # same block, different entity
        ("r4", "Banana (organization)"),    # different block entirely
        ("r5", "ab"),                       # shorter than one 3-gram
    ]
    return spark.createDataFrame(rows, "rec_id string, name string")


def test_blocking_key_is_normalized_first_token(records):
    b = {r.rec_id: (r.norm, r.block) for r in block_records(records).collect()}
    assert b["r1"] == ("apple organization", "apple")
    assert b["r2"] == ("apple organization", "apple")  # punct stripped, case folded
    assert b["r3"][1] == "apple"
    assert b["r4"][1] == "banana"


def test_candidate_pairs_stay_within_block(records):
    pairs = {(r.id1, r.id2) for r in candidate_pairs(block_records(records)).collect()}
    # apple block pairs only; banana/ab are singletons
    assert pairs == {("r1", "r2"), ("r1", "r3"), ("r2", "r3")}


def test_verify_merges_normal_equal_and_splits_variants(records):
    out = {(r.id1, r.id2): r.jaccard
           for r in verified_pairs(candidate_pairs(block_records(records))).collect()}
    assert out == {("r1", "r2"): 1.0}  # identical after lnrm
    # r1/r3 share the 'apple ' prefix only — well under 0.8


def test_resolution_maps_to_min_id_and_keeps_singletons(records):
    blocked = block_records(records)
    matches = verified_pairs(candidate_pairs(blocked))
    canon = {r.rec_id: r.canon for r in resolve_records(blocked, matches).collect()}
    assert canon == {"r1": "r1", "r2": "r1", "r3": "r3", "r4": "r4", "r5": "r5"}


def test_short_strings_use_whole_string_shingle(spark):
    recs = spark.createDataFrame(
        [("a1", "ab"), ("a2", "ab"), ("a3", "ax")],
        "rec_id string, name string",
    )
    blocked = block_records(recs)
    out = {(r.id1, r.id2): r.jaccard
           for r in verified_pairs(candidate_pairs(blocked)).collect()}
    # 'ab' vs 'ab' -> 1.0; 'ab' vs 'ax' -> disjoint single shingles -> 0.0
    assert out == {("a1", "a2"): 1.0}


def test_verify_requires_gram_arrays(records):
    """Pairs built without block_records' grams are refused, not
    re-shingled at some other width."""
    pairs = candidate_pairs(block_records(records)).drop("g1", "g2")
    with pytest.raises(ValueError, match="g1"):
        verified_pairs(pairs)
