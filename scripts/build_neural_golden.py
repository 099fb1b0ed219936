"""Golden-parquet oracle generator for the neural-scorer queries.

The neural disambiguation path (linked_neural / triples_neural) is not
SQL-expressible, but with the deterministic feature-hash encoder its
output IS a pure function of (corpus, dims). This script computes that
output with a SINGLE-PROCESS reference implementation — DuckDB for every
relational dim (the same oracle CTEs the gate already trusts) and a
plain Python loop over documents for the scoring — sharing only the
pure leaf functions with the Spark engine (ngram_extract_aliases,
extract_context, featurize_texts, score_batch; each pinned by its own
pytest goldens vs reference values).

What the resulting goldens pin: the DISTRIBUTED dataflow — broadcast
candidate maps, Arrow batching, mapInPandas fusion, shuffles, dedup —
against a driver-side loop that has none of those moving parts.

Rows are tagged with a corpus fingerprint (n_docs, total_chars) so ONE
parquet file serves every sf — sf0.001 and sf0.01 share n_docs=500, so
the char total is needed to discriminate; the oracle SQL filters
``WHERE n_docs = (SELECT count(*) FROM documents)
  AND total_chars = (SELECT sum(strlen(text)) FROM documents)``.

Usage: python scripts/build_neural_golden.py [sf_dir ...]
(defaults: sf0.001, sf0.01, sf0.1)
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from bootleg_spark import oracle as O  # noqa: E402
from bootleg_spark import synthspec as S  # noqa: E402
from bootleg_spark.functions.embedding import featurize_texts, score_batch  # noqa: E402
from bootleg_spark.functions.textproc import extract_context  # noqa: E402
from bootleg_spark.operators.mentions import max_alias_words, ngram_extract_aliases  # noqa: E402

GOLDEN_DIR = ROOT / "goldens"
DEFAULT_SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def reference_outputs(sf_dir: str) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """(linked, triples, embeddings) for one corpus, computed without
    Spark. The embeddings golden pins the static entity-matrix sink
    (extract_all_entities analogue) row-for-row."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    docs = con.execute("SELECT doc_id, lang, text FROM documents ORDER BY doc_id").fetchall()

    cand_rows = con.execute(
        O.with_ctes(*O.BASE[:4], final="SELECT alias, qid, rank FROM alias_cands ORDER BY alias, rank")
    ).fetchall()
    cands: dict[str, list[str]] = {}
    for alias, qid, _ in cand_rows:
        cands.setdefault(alias, []).append(qid)
    alias_set = frozenset(cands)

    # entity strings via the SAME oracle SQL the entity_strings gate uses
    import __spark_entry__ as entrymod

    ent_rows = con.execute(entrymod.oracle_sql()["entity_strings"]).fetchall()
    qids = [q for q, _ in ent_rows]
    qid2row = {q: i for i, q in enumerate(qids)}
    mat = featurize_texts([s for _, s in ent_rows], S.EMB_DIM)

    rel_rows = con.execute(
        O.with_ctes(*O.BASE, final="SELECT subj_qid, rel, obj_qid FROM kg_relations")
    ).fetchall()
    rels: dict[str, list[tuple[str, str]]] = {}
    for s_, r_, o_ in rel_rows:
        rels.setdefault(s_, []).append((r_, o_))

    dict_w = max_alias_words(alias_set)
    linked_rows = []
    triples = set()
    for doc_id, lang, text in docs:
        url = f"{S.URL_PREFIX}{lang}/{doc_id}"
        ms = ngram_extract_aliases(text, alias_set, dict_max_words=dict_w)
        if not ms:
            continue
        ctxs = [extract_context((cs, ce), text, S.MAX_SEQ_WINDOW_LEN) for _, cs, ce in ms]
        ctx = featurize_texts(ctxs, S.EMB_DIM)
        cl = [cands[a] for a, _, _ in ms]
        n, k = len(ms), max(len(c) for c in cl)
        ent = np.zeros((n, k, S.EMB_DIM))
        mask = np.zeros((n, k), dtype=bool)
        for i, c in enumerate(cl):
            for j, q in enumerate(c):
                row = qid2row.get(q)
                if row is not None:
                    ent[i, j] = mat[row]
                    mask[i, j] = True
        probs, arg = score_batch(ctx, ent, mask)
        top = probs[np.arange(n), arg]
        page_ents = set()
        for i, (alias, _, _) in enumerate(ms):
            if mask[i].any() and top[i] > S.PROB_THRESHOLD:
                q = cl[i][arg[i]]
                linked_rows.append((url, i, alias, q, round(float(top[i]), 6)))
                page_ents.add(q)
        for q in page_ents:
            for rel, obj in rels.get(q, ()):
                if obj in page_ents and obj != q:
                    triples.add((q, rel, obj))

    n_docs = len(docs)
    total_chars = sum(len(t) for _, _, t in docs)
    linked = pd.DataFrame(
        linked_rows, columns=["url", "mention_pos", "alias", "qid", "prob"]
    )
    linked["mention_pos"] = linked["mention_pos"].astype("int64")
    linked["n_docs"] = np.int64(n_docs)
    linked["total_chars"] = np.int64(total_chars)
    tri = pd.DataFrame(sorted(triples), columns=["subj", "pred", "obj"])
    tri["n_docs"] = np.int64(n_docs)
    tri["total_chars"] = np.int64(total_chars)
    n_ent, dim = mat.shape
    emb = pd.DataFrame(
        {
            "qid": np.repeat(np.array(qids, dtype=object), dim),
            "dim_idx": np.tile(np.arange(dim, dtype=np.int64), n_ent),
            "val": np.round(mat.reshape(-1), 6),
        }
    )
    emb["n_docs"] = np.int64(n_docs)
    emb["total_chars"] = np.int64(total_chars)
    return linked, tri, emb


def main() -> None:
    sfs = sys.argv[1:] or DEFAULT_SFS
    GOLDEN_DIR.mkdir(exist_ok=True)
    all_linked, all_tri, all_emb = [], [], []
    for sf in sfs:
        linked, tri, emb = reference_outputs(sf)
        print(
            f"{sf}: {len(linked)} linked rows, {len(tri)} triples, "
            f"{len(emb)} emb cells"
        )
        all_linked.append(linked)
        all_tri.append(tri)
        all_emb.append(emb)
    pd.concat(all_linked).to_parquet(f"{GOLDEN_DIR}/linked_neural.parquet", index=False)
    pd.concat(all_tri).to_parquet(f"{GOLDEN_DIR}/triples_neural.parquet", index=False)
    pd.concat(all_emb).to_parquet(f"{GOLDEN_DIR}/entity_embeddings.parquet", index=False)
    print(f"wrote linked_neural/triples_neural/entity_embeddings under {GOLDEN_DIR}")


if __name__ == "__main__":
    main()
