"""Distant-supervision pattern mining (operators/patterns.py) on a
hand-built corpus where every pattern, support count, and proposal can
be verified by eye.

Corpus design:
  d1: "Q1 works at Q2 today"        -> pair (Q1,Q2), gap 3, pattern "works at"
  d2: "Q3 works at Q4 now"          -> pair (Q3,Q4), gap 3, pattern "works at"
  d3: "Q5 works at Q6 maybe"        -> pair (Q5,Q6), gap 3, pattern "works at"
  d4: "Q1 born in Q9"               -> pair (Q1,Q9), gap 3, pattern "born in"
  d5: "Q1 Q2 end"                   -> gap 1 < min_gap, dropped
  d6: "Q1 pad pad pad pad Q2"       -> gap 5 > max_gap, dropped
  d7: "Q1 x y Q1 tail"              -> same qid twice, dropped
KG edges: (Q1, employer, Q2), (Q3, employer, Q4).

Mining (min_gap=2, max_gap=4): "works at" has 3 instances, 2 of which
are KG employer edges -> support 2, n_pattern 3, precision 0.666667.
"born in" has 1 instance, no edge -> no mined row (no hit).
Applying (min_support=2, min_precision=0.5): "works at" is kept; the
proposals are its instances minus known edges -> exactly (Q5, employer,
Q6) with n_evidence 1, confidence 0.666667.
"""

from __future__ import annotations

from bootleg_spark.operators.patterns import (
    adjacent_linked_pairs,
    apply_patterns,
    mine_patterns,
)


def _corpus(spark):
    texts = {
        1: "Q1 works at Q2 today",
        2: "Q3 works at Q4 now",
        3: "Q5 works at Q6 maybe",
        4: "Q1 born in Q9",
        5: "Q1 Q2 end",
        6: "Q1 pad pad pad pad Q2",
        7: "Q1 x y Q1 tail",
    }
    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    linked_rows = []
    for d, t in texts.items():
        for pos, w in enumerate(t.split(" ")):
            if w.startswith("Q") and w[1:].isdigit():
                linked_rows.append((d, pos, w))
    linked = spark.createDataFrame(
        linked_rows, "doc_id long, mention_pos long, qid string"
    )
    kg = spark.createDataFrame(
        [("Q1", "employer", "Q2"), ("Q3", "employer", "Q4")],
        "subj_qid string, rel string, obj_qid string",
    )
    return docs, linked, kg


def test_adjacent_pairs_gap_and_identity_rules(spark):
    docs, linked, _ = _corpus(spark)
    pairs = adjacent_linked_pairs(linked, docs)
    got = {(r.doc_id, r.qid1, r.qid2, r.pattern) for r in pairs.collect()}
    assert got == {
        (1, "Q1", "Q2", "works at"),
        (2, "Q3", "Q4", "works at"),
        (3, "Q5", "Q6", "works at"),
        (4, "Q1", "Q9", "born in"),
    }  # d5 (gap 1), d6 (gap 5), d7 (same qid) all dropped


def test_mine_patterns_precision_arithmetic(spark):
    docs, linked, kg = _corpus(spark)
    pairs = adjacent_linked_pairs(linked, docs)
    mined = mine_patterns(pairs, kg).collect()
    assert len(mined) == 1
    row = mined[0]
    assert (row.pattern, row.rel) == ("works at", "employer")
    assert (row.support, row.n_pattern) == (2, 3)
    assert abs(row.precision - 0.666667) < 1e-9


def test_apply_patterns_proposes_only_unknown_triples(spark):
    docs, linked, kg = _corpus(spark)
    pairs = adjacent_linked_pairs(linked, docs)
    mined = mine_patterns(pairs, kg)
    out = apply_patterns(
        pairs, mined, kg, min_support=2, min_precision=0.5
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert (row.subj_qid, row.rel, row.obj_qid) == ("Q5", "employer", "Q6")
    assert row.n_evidence == 1
    assert abs(row.confidence - 0.666667) < 1e-9


def test_apply_patterns_threshold_drops_everything(spark):
    docs, linked, kg = _corpus(spark)
    pairs = adjacent_linked_pairs(linked, docs)
    mined = mine_patterns(pairs, kg)
    assert (
        apply_patterns(pairs, mined, kg, min_support=3, min_precision=0.5).count()
        == 0
    )


def test_multi_relation_pair_credits_each_relation(spark):
    docs = spark.createDataFrame(
        [(1, "Q1 works at Q2 x"), (2, "Q1 works at Q2 y")],
        "doc_id long, text string",
    )
    linked = spark.createDataFrame(
        [(1, 0, "Q1"), (1, 3, "Q2"), (2, 0, "Q1"), (2, 3, "Q2")],
        "doc_id long, mention_pos long, qid string",
    )
    kg = spark.createDataFrame(
        [("Q1", "employer", "Q2"), ("Q1", "member_of", "Q2")],
        "subj_qid string, rel string, obj_qid string",
    )
    pairs = adjacent_linked_pairs(linked, docs)
    mined = {
        (r.pattern, r.rel): (r.support, r.n_pattern)
        for r in mine_patterns(pairs, kg).collect()
    }
    assert mined == {
        ("works at", "employer"): (2, 2),
        ("works at", "member_of"): (2, 2),
    }


def test_bootstrap_cascades_across_rounds(spark):
    from bootleg_spark.operators.patterns import (
        adjacent_linked_pairs,
        bootstrap_patterns,
    )

    # round 1: "x x" is credited by the seed edge (A,r,B) and proposes
    # (C,r,D); round 2: "y y" becomes minable only once (C,r,D) is
    # accepted, and then proposes (E,r,F) — a genuine cascade.
    docs = spark.createDataFrame(
        [(1, "A x x B"), (2, "C x x D"), (3, "C y y D"), (4, "E y y F")],
        "doc_id long, text string",
    )
    linked = spark.createDataFrame(
        [(1, 0, "QA"), (1, 3, "QB"), (2, 0, "QC"), (2, 3, "QD"),
         (3, 0, "QC"), (3, 3, "QD"), (4, 0, "QE"), (4, 3, "QF")],
        "doc_id long, mention_pos long, qid string",
    )
    kg = spark.createDataFrame(
        [("QA", "r", "QB")], "subj_qid string, rel string, obj_qid string"
    )
    pairs = adjacent_linked_pairs(linked, docs)
    out = {(r.subj_qid, r.obj_qid): r.accepted_round
           for r in bootstrap_patterns(
               pairs, kg, min_support=1, min_precision=0.1
           ).collect()}
    assert out == {("QC", "QD"): 1, ("QE", "QF"): 2}
