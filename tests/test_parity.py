"""Triple P/R gate (BASELINE.json: P/R ≥ 0.95 vs the reference pipeline).

The reference's BootlegAnnotator cannot run here (no torch/transformers/
spaCy), so the parity oracle is a single-process annotator that walks the
reference's control flow (bootleg_annotator.py §3.1: per-text mention
extraction → candidate fetch → per-mention scoring → threshold →
per-page relation emission) in plain Python loops — independently of any
Spark plan, partitioning, join order, or UDF batching. The distributed
pipeline must reproduce its triple set at P/R ≥ 0.95 (expected: 1.0).

The scalar semantics themselves (lnrm, filters, windowing, masked
softmax) are pinned to the reference by the unit goldens in
test_mentions.py / test_textproc.py / test_scoring.py, and relationally
by the DuckDB oracle gate.
"""

import numpy as np

from bootleg_spark.functions.embedding import featurize_texts, score_batch
from bootleg_spark.functions.textproc import extract_context, extract_html_text
from bootleg_spark.operators.mentions import ngram_extract_aliases
from bootleg_spark.plans.pipeline import KgPipeline
from bootleg_spark import synthspec as S
from tests.conftest import SF_SMOKE


def single_process_annotator(
    pages_rows, aliases, cand_dict, qid2row, mat, rel_dict, encoder=featurize_texts
):
    """Reference-shaped sequential annotator → set of (subj, pred, obj)."""
    triples = set()
    for row in pages_rows:
        text = extract_html_text(bytes(row["html"]))
        mentions = ngram_extract_aliases(text, aliases)
        if not mentions:
            continue
        ctxs = [extract_context((s, e), text, S.MAX_SEQ_WINDOW_LEN) for _, s, e in mentions]
        cands = [cand_dict[a] for a, _, _ in mentions]
        ctx = encoder(ctxs, S.EMB_DIM)
        n, k = len(mentions), max(len(c) for c in cands)
        ent = np.zeros((n, k, S.EMB_DIM))
        mask = np.zeros((n, k), dtype=bool)
        for i, cl in enumerate(cands):
            for j, q in enumerate(cl):
                r = qid2row.get(q)
                if r is not None:
                    ent[i, j] = mat[r]
                    mask[i, j] = True
        probs, arg = score_batch(ctx, ent, mask)
        top = probs[np.arange(n), arg]
        ents = {
            cands[i][arg[i]]
            for i in range(n)
            if mask[i].any() and top[i] > S.PROB_THRESHOLD
        }
        for q in ents:
            for rel, obj in rel_dict.get(q, ()):
                if obj in ents and obj != q:
                    triples.add((q, rel, obj))
    return triples


def test_triple_precision_recall_vs_sequential_reference(pipe):
    pages_rows = pipe.pages().select("html").collect()
    expected = single_process_annotator(
        pages_rows,
        pipe.alias_set_bc.value,
        pipe.cand_dict_bc.value,
        pipe.ent_matrix_bc.value[0],
        pipe.ent_matrix_bc.value[1],
        pipe.rel_dict_bc.value,
    )
    got = {tuple(r) for r in pipe.triples().select("subj", "pred", "obj").collect()}
    assert len(expected) > 0
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    # with a deterministic scorer the match should in fact be exact
    assert got == expected


def test_encoder_swap_through_the_seam(spark):
    """Swapping a DIFFERENT encoder (fixed-weight numpy MLP with
    CLS-style pooling + tanh, shaped like the reference's BertEncoder
    forward, bert_encoder.py:6-38) through the featurize_texts seam must
    change NO Spark plan: the pipeline with the swapped encoder still
    reproduces the sequential reference annotator exactly, both on the
    staged and the fused path — so a real torch/ONNX BERT drop-in needs
    no dataflow change."""
    from bootleg_spark.functions.embedding import make_mlp_encoder

    enc = make_mlp_encoder(S.EMB_DIM)
    pipe = KgPipeline(spark, SF_SMOKE, encoder=enc)
    pages_rows = pipe.pages().select("html").collect()
    expected = single_process_annotator(
        pages_rows,
        pipe.alias_set_bc.value,
        pipe.cand_dict_bc.value,
        pipe.ent_matrix_bc.value[0],
        pipe.ent_matrix_bc.value[1],
        pipe.rel_dict_bc.value,
        encoder=make_mlp_encoder(S.EMB_DIM),  # fresh instance: pure fn of seed
    )
    assert len(expected) > 0
    fused = {tuple(r) for r in pipe.triples().select("subj", "pred", "obj").collect()}
    staged = {
        tuple(r) for r in pipe.triples(fused=False).select("subj", "pred", "obj").collect()
    }
    assert fused == expected
    assert staged == expected
    # and the swapped encoder actually encodes differently from the default
    probe = ["alpha beta gamma", "delta"]
    assert not np.allclose(enc(probe, S.EMB_DIM), featurize_texts(probe, S.EMB_DIM))


def test_quality_model_score_matches_numpy(spark):
    """Logistic quality model vs an independent numpy evaluation of
    the same features; keep is the rounded-score threshold."""
    import math

    from bootleg_spark.operators.textstats import quality_model_score

    rows = [
        (0, "the cat sat on the mat quietly today"),
        (1, "x"),
        (2, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbbbbbb"),
        (3, "this is a perfectly ordinary sentence with the usual words and length"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: (r["score"], r["keep"]) for r in quality_model_score(df).collect()}
    stop = {"the", "and", "of", "is", "to"}
    for i, text in rows:
        words = text.split(" ")
        n = len(words)
        mean_len = round((len(text) - (n - 1)) / n, 6)
        sr = round(sum(w in stop for w in words) / n, 6)
        z = -2.0 + 0.35 * math.log1p(n) + 0.15 * mean_len + 3.0 * sr
        score = round(1.0 / (1.0 + math.exp(-z)), 6)
        assert abs(got[i][0] - score) <= 1e-6, (i, got[i][0], score)
        assert got[i][1] == (score >= 0.5)
    # sanity: the junk one-word doc is rejected, the ordinary one kept
    assert not got[1][1] and got[3][1]


def test_lm_cross_entropy_matches_counter_model(spark):
    """Bigram LM cross-entropy vs an independent Counter-based model:
    add-1 smoothing, lowercased tokens, sub-2-token docs absent, and a
    clean external reference corpus changes the scores as expected."""
    import math
    from collections import Counter

    from bootleg_spark.operators.textstats import lm_cross_entropy

    rows = [(0, "the cat sat"), (1, "the cat ran"), (2, "dog"), (3, "THE cat sat")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: (r["cross_entropy"], r["n_bigrams"])
        for r in lm_cross_entropy(df).collect()
    }
    toks = {i: t.lower().split(" ") for i, t in rows}
    uni = Counter(w for t in toks.values() for w in t)
    bi = Counter(p for t in toks.values() for p in zip(t, t[1:]))
    V = len(uni)
    for i, t in toks.items():
        bgs = list(zip(t, t[1:]))
        if not bgs:
            assert i not in got
            continue
        ce = round(
            sum(-math.log((bi[p] + 1) / (uni[p[0]] + V)) for p in bgs) / len(bgs), 6
        )
        assert abs(got[i][0] - ce) <= 1e-6 and got[i][1] == len(bgs)
    # an unseen-bigram doc scores WORSE against an external reference
    ref = df.where("doc_id = 0")
    ext = {
        r["id"]: r["cross_entropy"]
        for r in lm_cross_entropy(
            spark.createDataFrame(
                [(10, "the cat sat"), (11, "zebra quantum flux")],
                "doc_id long, text string",
            ),
            ref=ref,
        ).collect()
    }
    assert ext[11] > ext[10]
