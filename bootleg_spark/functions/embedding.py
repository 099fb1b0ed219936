"""Deterministic embeddings + masked-softmax disambiguation math.

The reference scores each mention against ≤K candidate entities with a
dot product between a context encoding and entity encodings, masked
log-softmax over K, argmax (bootleg/tasks/ned_task.py:25-46,
bootleg/utils/eval_utils.py:32-56). The encoders are BERT biencoders;
torch/transformers are not available here, so encodings are
deterministic feature-hashed bag-of-token vectors — the *dataflow*
(static entity-embedding matrix broadcast + vectorized batch scoring,
bootleg/layers/static_entity_embeddings.py:10-36) is identical, and a
real ONNX/torch encoder slots into ``featurize_texts`` without touching
any Spark plan.

All hashing is md5-based (process-stable; Python's ``hash`` is salted).
Everything here is pure numpy over batches — called from Arrow-batched
pandas UDFs only, never per-row.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

# row 0 is "not in candidates" (entity_symbols.py:43-45)
PAD_EID = 1  # padding row (eval_utils.py:90-114 maps "-1" -> 1)


@lru_cache(maxsize=1 << 18)
def token_hash(token: str) -> tuple[int, int]:
    """(bucket_seed, sign_bit) for a token — md5-stable across processes.

    Memoized: natural-language token frequency is Zipfian, so the hot
    path hits the cache almost always (md5 is ~1.5 µs/call — the
    dominant cost of featurization without the cache)."""
    h = hashlib.md5(token.encode("utf-8")).digest()
    return int.from_bytes(h[:4], "big"), h[4] & 1


def featurize_tokens(tokens: list[str], dim: int) -> np.ndarray:
    """Feature-hashed bag-of-tokens vector, L2-normalized."""
    v = np.zeros(dim, dtype=np.float64)
    for t in tokens:
        b, s = token_hash(t)
        v[b % dim] += 1.0 if s else -1.0
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v


def featurize_texts(texts: list[str], dim: int) -> np.ndarray:
    """Batch featurizer (rows = texts). Whitespace tokenization.

    r07: one np.add.at scatter for the whole batch instead of per-text
    numpy scalar writes (those cost ~200 ns each); the token loop only
    builds int lists. Bit-identical to the per-text form — the
    accumulated values are ±1 integers and the squared norms are exact
    in float64, so no summation-order drift exists (verified
    np.array_equal on corpus batches). ~1.35× per text measured."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    rows, cols, vals = [], [], []
    ra, ca, va = rows.append, cols.append, vals.append
    for i, t in enumerate(texts):
        if t:
            for tok in t.split():
                b, s = token_hash(tok)
                ra(i)
                ca(b % dim)
                va(1.0 if s else -1.0)
    if rows:
        np.add.at(out, (np.array(rows), np.array(cols)), np.array(vals))
    n = np.linalg.norm(out, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return out / n


def make_mlp_encoder(dim: int, hidden: int = 64, seed: int = 12345):
    """Second deterministic encoder behind the ``featurize_texts`` seam.

    Shaped like the reference's BertEncoder forward
    (bootleg/layers/bert_encoder.py:6-38: contextual token states →
    pooling → projection): feature-hashed token embeddings stand in for
    the token states, mean pooling is the CLS-style pool, then two
    fixed-weight linear layers with tanh and an L2-normalized output.
    Weights come from a seeded legacy RandomState, so the encoder is a
    pure function of (dim, hidden, seed) — any process computes the
    same matrix.

    Same ``(texts, dim) -> (B, dim)`` contract as :func:`featurize_texts`;
    tests/test_parity.py swaps it through the whole pipeline to prove a
    real torch/ONNX encoder needs no Spark-plan change.
    """
    rng = np.random.RandomState(seed)
    w1 = rng.standard_normal((dim, hidden)) / np.sqrt(dim)
    w2 = rng.standard_normal((hidden, dim)) / np.sqrt(hidden)

    def encode(texts: list[str], out_dim: int) -> np.ndarray:
        if out_dim != dim:
            raise ValueError(f"encoder built for dim={dim}, called with {out_dim}")
        pooled = featurize_texts(texts, dim)
        out = np.tanh(np.tanh(pooled @ w1) @ w2)
        n = np.linalg.norm(out, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return out / n

    return encode


def masked_class_logsoftmax(pred: np.ndarray, mask: np.ndarray, temp: float = 1.0) -> np.ndarray:
    """Masked log-softmax over the last axis (eval_utils.py:32-56 semantics:
    ``log_softmax(pred/temp + log(mask + 1e-45))``)."""
    if not temp > 0:
        raise ValueError(f"temperature must be > 0, got {temp}")
    x = pred / temp + np.log(mask.astype(np.float64) + 1e-45)
    x = x - x.max(axis=-1, keepdims=True)
    ex = np.exp(x)
    return x - np.log(ex.sum(axis=-1, keepdims=True))


def score_batch(
    ctx: np.ndarray, ent: np.ndarray, mask: np.ndarray, temp: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Batched disambiguation: probs (B,K) and argmax indices (B,).

    ``ctx`` (B,D), ``ent`` (B,K,D), ``mask`` (B,K) True=valid candidate.
    Mirrors ``disambig_output`` (ned_task.py:25-46): dot products →
    masked log-softmax → exp; argmax takes the first max (numpy
    semantics, same as the reference's torch argmax on ties).
    """
    pred = np.einsum("bd,bkd->bk", ctx, ent)
    probs = np.exp(masked_class_logsoftmax(pred, mask, temp))
    probs = probs * mask  # zero out padded candidates exactly
    return probs, probs.argmax(axis=-1)


def link_candidates(
    ctx: np.ndarray, cand_lists: list, qid2row: dict, mat: np.ndarray
) -> tuple[list, np.ndarray, np.ndarray]:
    """Score each mention's candidate QIDs against the static entity matrix.

    ``ctx`` (B,D) context encodings, ``cand_lists`` B candidate-QID lists
    (pads like "-1" allowed), ``qid2row``/``mat`` the broadcast matrix.
    Fills the (B,K,D) candidate tensor and its mask — a candidate absent
    from the matrix is masked out — then :func:`score_batch`. Returns
    ``(qid_pred, top_prob, probs)``: the argmax QID per mention, or "-1"
    when none of its candidates is in the matrix, its prob, and the
    (B,K) prob table."""
    n = len(cand_lists)
    k = max((len(c) for c in cand_lists), default=1)
    ent = np.zeros((n, k, ctx.shape[1]), dtype=np.float64)
    mask = np.zeros((n, k), dtype=bool)
    for i, cands in enumerate(cand_lists):
        for j, q in enumerate(cands):
            row = qid2row.get(q)
            if row is not None:
                ent[i, j] = mat[row]
                mask[i, j] = True
    probs, arg = score_batch(ctx, ent, mask)
    qid_pred = [cand_lists[i][arg[i]] if mask[i].any() else "-1" for i in range(n)]
    return qid_pred, probs[np.arange(n), arg], probs
