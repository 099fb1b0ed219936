"""Edit-mode mention mutation tests — semantics mirror the reference's
tests/test_entity/test_entity_profile.py add/remove mention suites
(entity_symbols.py:592-688)."""

from __future__ import annotations

import pytest

from bootleg_spark.operators import editing


@pytest.fixture()
def cands(spark):
    return spark.createDataFrame(
        [
            ("dog", "Q123", 10.0, 1),
            ("cat", "Q345", 10.0, 1),
            ("animal", "Q789", 12.2, 1),
            ("animal", "Q123", 4.0, 2),
            ("animal", "Q567", 3.3, 3),
        ],
        "alias string, qid string, score double, rank int",
    )


def _by_alias(df):
    out = {}
    for r in df.orderBy("alias", "rank").collect():
        out.setdefault(r["alias"], []).append((r["qid"], r["score"], r["rank"]))
    return out


def test_add_mention_basic(cands):
    got = _by_alias(editing.add_mention(cands, "Q345", "animal", 5.0, max_candidates=30))
    assert [q for q, _, _ in got["animal"]] == ["Q789", "Q345", "Q123", "Q567"]
    assert [r for _, _, r in got["animal"]] == [1, 2, 3, 4]


def test_add_mention_evicts_last_when_full(cands):
    """At max_candidates the LAST candidate is evicted so the new pair
    always lands — even with the lowest score."""
    got = _by_alias(editing.add_mention(cands, "Q345", "animal", 1.0, max_candidates=3))
    assert [q for q, _, _ in got["animal"]] == ["Q789", "Q123", "Q345"]


def test_add_mention_existing_pair_noop(cands):
    got = _by_alias(editing.add_mention(cands, "Q123", "animal", 99.0))
    assert got == _by_alias(cands)


def test_add_mention_new_alias_and_lnrm(cands):
    got = _by_alias(editing.add_mention(cands, "Q123", "Big  Dog!", 2.0))
    assert got["big dog"] == [("Q123", 2.0, 1)]


def test_remove_mention_and_alias_vanishes(cands):
    out = editing.remove_mention(cands, "Q123", "dog")
    assert out.where("alias = 'dog'").count() == 0  # zero-candidate alias gone
    got = _by_alias(editing.remove_mention(cands, "Q789", "animal"))
    assert [q for q, _, _ in got["animal"]] == ["Q123", "Q567"]
    assert [r for _, _, r in got["animal"]] == [1, 2]

