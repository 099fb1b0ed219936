"""SparkAnnotator facade: label_mentions API parity with the reference
(bootleg_annotator.py:338-362 return contract) over the distributed
pipeline."""

from __future__ import annotations

import pytest

from bootleg_spark.annotator import SparkAnnotator
from bootleg_spark.plans.pipeline import KgPipeline
from tests.conftest import SF_SMOKE


def _an_alias(pipe):
    return sorted(pipe.alias_set_bc.value)[0]


def test_label_mentions_contract(pipe):
    ann = SparkAnnotator(pipe)
    a0 = _an_alias(pipe)
    # alias flanked by stopwords so the split-noun filter keeps it
    texts = [f"it was the {a0} of them", "nothing matches in here ..."]
    out = ann.label_mentions(texts)
    assert set(out) == {
        "qids", "probs", "titles", "cands", "cand_probs", "char_spans", "aliases"
    }
    # parallel per-text lists, same length as input
    assert all(len(out[k]) == 2 for k in out)
    assert out["aliases"][0] == [a0]
    (qid,) = out["qids"][0]
    assert qid.startswith("Q")
    assert out["titles"][0][0] == {
        r["qid"]: r["title"] for r in pipe.dims["entities"].collect()
    }[qid]
    s, e = out["char_spans"][0][0]
    assert texts[0][s:e] == a0
    assert 0.0 <= out["probs"][0][0] <= 1.0
    assert qid in out["cands"][0][0]
    assert len(out["cand_probs"][0][0]) >= len(out["cands"][0][0])
    # text with no dictionary hits -> empty lists, not missing entries
    assert out["aliases"][1] == [] and out["qids"][1] == []


@pytest.mark.parametrize("encoder", ["default", "mlp"])
def test_label_mentions_matches_pipeline(pipe, spark, encoder):
    """The facade's picks equal the staged pipeline's picks on the
    corpus pages (same plan, same broadcasts) — with a custom encoder
    too, whose context vectors must match its entity matrix."""
    if encoder == "mlp":
        from bootleg_spark import synthspec as S
        from bootleg_spark.functions.embedding import make_mlp_encoder

        pipe = KgPipeline(spark, SF_SMOKE, encoder=make_mlp_encoder(S.EMB_DIM))
    ann = SparkAnnotator(pipe)
    pages = pipe.pages().limit(5)
    texts = [r["text"] for r in pages.select("text").collect()]
    out = ann.label_mentions(texts)
    linked = pipe.linked(pages)
    expected: dict[str, list] = {}
    for r in linked.select("doc_id", "mention_pos", "qid_pred").collect():
        expected.setdefault(r["doc_id"], []).append((r["mention_pos"], r["qid_pred"]))
    got_flat = sorted(q for qs in out["qids"] for q in qs)
    exp_flat = sorted(q for ms in expected.values() for _, q in ms)
    assert got_flat == exp_flat
