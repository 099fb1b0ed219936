"""Disambiguation math goldens (eval_utils.py:32-56, ned_task.py:25-46)."""

import numpy as np
import pytest

from bootleg_spark.functions.embedding import (
    featurize_texts,
    featurize_tokens,
    link_candidates,
    masked_class_logsoftmax,
    score_batch,
)


def test_masked_logsoftmax_matches_manual():
    pred = np.array([[1.0, 2.0, 3.0]])
    mask = np.array([[True, True, False]])
    out = masked_class_logsoftmax(pred, mask)
    # masked slot gets log(1e-45) ≈ -103.6; softmax over first two
    expected = np.log(np.exp([1.0, 2.0]) / np.exp([1.0, 2.0]).sum())
    assert np.allclose(out[0, :2], expected)
    assert out[0, 2] < -80


def test_masked_logsoftmax_temperature():
    pred = np.array([[2.0, 4.0]])
    mask = np.array([[True, True]])
    hot = masked_class_logsoftmax(pred, mask, temp=2.0)
    expected = np.log(np.exp([1.0, 2.0]) / np.exp([1.0, 2.0]).sum())
    assert np.allclose(hot[0], expected)


def test_score_batch_argmax_and_mask():
    ctx = np.array([[1.0, 0.0], [0.0, 1.0]])
    ent = np.array(
        [
            [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]],
            [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]],
        ]
    )
    mask = np.array([[True, True, False], [True, True, False]])
    probs, arg = score_batch(ctx, ent, mask)
    assert arg.tolist() == [0, 1]
    assert np.allclose(probs.sum(axis=1), 1.0)
    assert (probs[:, 2] == 0).all()  # padded slot exactly zero


def test_score_batch_rejects_nonpositive_temperature():
    ctx, ent, mask = np.ones((1, 2)), np.ones((1, 1, 2)), np.ones((1, 1), dtype=bool)
    with pytest.raises(ValueError, match="temperature"):
        score_batch(ctx, ent, mask, temp=0.0)


def test_link_candidates_picks_qid_and_flags_unknown():
    qid2row = {"Q1": 0, "Q2": 1}
    mat = np.array([[1.0, 0.0], [0.0, 1.0]])
    ctx = np.array([[0.0, 1.0], [1.0, 0.0]])
    qid, top, probs = link_candidates(ctx, [["Q1", "Q2", "-1"], ["Q9", "-1"]], qid2row, mat)
    assert qid == ["Q2", "-1"]  # no candidate of mention 2 is in the matrix
    assert top[0] == probs[0].max() and probs.shape == (2, 3)
    qid, top, probs = link_candidates(np.zeros((0, 2)), [], qid2row, mat)
    assert qid == [] and top.shape == (0,)


def test_featurize_deterministic_and_normalized():
    a = featurize_tokens(["spark", "join"], 64)
    b = featurize_tokens(["spark", "join"], 64)
    assert np.array_equal(a, b)
    assert abs(np.linalg.norm(a) - 1.0) < 1e-12
    m = featurize_texts(["spark join", ""], 64)
    assert np.array_equal(m[0], a)
    assert np.array_equal(m[1], np.zeros(64))
