"""The .npz file-backed transformer encoder through the featurize seam
(VERDICT r4 ask #5): broadcast-weights packaging, init-once worker
load, and plan-invariance through the fused kernel's two emitters
(linked_fused and the fused triples).
"""

from __future__ import annotations

import numpy as np
import pytest

from bootleg_spark import synthspec as S
from bootleg_spark.functions.embedding import featurize_texts
from bootleg_spark.functions.npz_encoder import NpzEncoder, export_tiny_encoder
from bootleg_spark.plans.pipeline import KgPipeline
from tests.conftest import SF_SMOKE
from tests.test_plan_invariants import n_nodes, plan_of


@pytest.fixture(scope="module")
def npz_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("enc") / "tiny_encoder.npz")
    export_tiny_encoder(p, S.EMB_DIM)
    return p


def test_export_is_deterministic_and_loads(spark, npz_path, tmp_path):
    enc = NpzEncoder.from_file(spark, npz_path, S.EMB_DIM)
    probe = ["alpha beta gamma", "delta", ""]
    out = enc(probe, S.EMB_DIM)
    assert out.shape == (3, S.EMB_DIM)
    # L2-normalized rows for non-empty texts, zero row for empty
    assert np.allclose(np.linalg.norm(out[:2], axis=1), 1.0)
    assert np.allclose(out[2], 0.0)
    # same seed → byte-identical bundle → identical encodings
    p2 = str(tmp_path / "again.npz")
    export_tiny_encoder(p2, S.EMB_DIM)
    enc2 = NpzEncoder.from_file(spark, p2, S.EMB_DIM)
    assert np.array_equal(out, enc2(probe, S.EMB_DIM))
    # different seed → different model
    p3 = str(tmp_path / "other.npz")
    export_tiny_encoder(p3, S.EMB_DIM, seed=7)
    enc3 = NpzEncoder.from_file(spark, p3, S.EMB_DIM)
    assert not np.allclose(out, enc3(probe, S.EMB_DIM))
    # genuinely different from the default feature-hash stand-in
    assert not np.allclose(out, featurize_texts(probe, S.EMB_DIM))
    # attention means token ORDER matters — the bag-of-words default
    # can't distinguish these
    a = enc(["alpha beta"], S.EMB_DIM)
    b = enc(["beta alpha"], S.EMB_DIM)
    assert not np.allclose(a, b)
    # dim mismatch fails fast on the driver
    with pytest.raises(ValueError, match="dim"):
        NpzEncoder.from_file(spark, npz_path, S.EMB_DIM + 1)


def test_npz_encoder_through_fused_kernel(spark, npz_path):
    """The whole point: a file-exported model slots into the pipeline
    with NO Spark-plan change — same single-MapInPandas fused plan,
    same fused-triples plan shape — and the outputs are internally consistent
    (every prediction inside its candidate set, probs valid) while
    actually differing from the default encoder's scores."""
    pipe_npz = KgPipeline(
        spark, SF_SMOKE, encoder=NpzEncoder.from_file(spark, npz_path, S.EMB_DIM)
    )
    pipe_def = KgPipeline(spark, SF_SMOKE)

    fused_npz = pipe_npz.linked_fused()
    fused_def = pipe_def.linked_fused()
    # plan invariance: the encoder is a closure detail, not a plan node
    for name in ("MapInPandas", "Exchange", "BroadcastExchange"):
        assert n_nodes(plan_of(fused_npz), name) == n_nodes(plan_of(fused_def), name)

    rows = fused_npz.select("alias", "qid_pred", "prob").collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 < r["prob"] <= 1.0
    # candidate-set containment on the staged path (the fused plan
    # does not carry cand arrays in its output)
    for r in pipe_npz.linked().select("qid_pred", "cand_qids").collect():
        assert r["qid_pred"] in list(r["cand_qids"])
    # the swapped weights really reach the scorer: some prob differs
    def probs(df):
        return {
            (r["doc_id"], r["mention_pos"]): r["prob"]
            for r in df.select("doc_id", "mention_pos", "prob").collect()
        }

    p_npz, p_def = probs(fused_npz), probs(fused_def)
    assert set(p_npz) == set(p_def)  # same mentions either way
    assert any(abs(p_npz[k] - p_def[k]) > 1e-9 for k in p_npz)

    # staged and fused agree under the npz encoder (the seam threads
    # the same callable through both plans)
    staged = {
        (r["doc_id"], r["mention_pos"], r["qid_pred"])
        for r in pipe_npz.linked().collect()
    }
    fused = {
        (r["doc_id"], r["mention_pos"], r["qid_pred"])
        for r in fused_npz.collect()
    }
    assert staged == fused

    # fused triples: plan shape unchanged vs the default encoder, and
    # equal to the staged triples under the SAME encoder
    tri_npz = pipe_npz.triples()
    tri_def = pipe_def.triples()
    for name in ("MapInPandas", "ArrowEvalPython", "Exchange"):
        assert n_nodes(plan_of(tri_npz), name) == n_nodes(plan_of(tri_def), name)
    got = {tuple(r) for r in tri_npz.collect()}
    assert len(got) > 0
    assert got == {tuple(r) for r in pipe_npz.triples(fused=False).collect()}
