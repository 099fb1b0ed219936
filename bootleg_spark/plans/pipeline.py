"""The end-to-end KG-construction pipeline (SURVEY.md §7.1):

pages → ① extract_text → ② mentions → ③ candidates → ④ link → ⑤ triples

plus the checkpoint-manifest materializer (north_rule: per-partition
lineage + throughput metrics, idempotent resume).

Equivalent reference flow: bootleg/run.py --mode dump_preds
(SURVEY.md §3.2) followed by relation joins; all of the reference's
multiprocessing harnesses collapse into this one declarative plan.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from bootleg_spark import synthspec as S
from bootleg_spark.functions.textproc import extract_html_text
from bootleg_spark.operators.candidates import attach_candidates, grouped_candidates
from bootleg_spark.operators.linking import build_entity_embeddings, entity_strings, link_neural
from bootleg_spark.operators.mentions import extract_mentions_ngram, max_alias_words
from bootleg_spark.operators.triples import doc_entities, triples_from_doc_entities
from bootleg_spark.sources.synth import build_dims, pages_table


@F.pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched boilerplate strip (deterministic per url)."""
    return html.map(extract_html_text)


def extract_text(pages: DataFrame) -> DataFrame:
    """① html → text_extracted. Column-pruned: downstream stages never
    touch ``html`` again, so the scan drops it after this projection."""
    return pages.withColumn("text_extracted", extract_text_udf(F.col("html")))


class KgPipeline:
    """The entity profile a linking run needs, built once (the reference
    builds its entity symbols once and loads them as one artifact,
    entity_symbols.py:200-303). ONE Arrow collect of an entity-grain
    frame gives the four driver-side broadcasts: ``cand_dict_bc`` (alias
    → qids by rank, "-1"-padded to MAX_CANDIDATES: the rows of
    ``grouped_cands``), ``alias_set_bc`` (its keys), ``ent_matrix_bc``
    ((qid → row, (n, dim) float64 matrix)) and ``rel_dict_bc`` (subj →
    [(rel, obj)]). The entity encode stays distributed (``emb_df``).

    Scale: 5.8M entities × 64 dims of float64 (~3.0 GB) still
    broadcasts; beyond that, ship the matrix via ``spark-submit
    --files`` + an executor-local mmap (static_entity_embeddings.py:
    10-36). At full Wikidata scale the relation dict can exceed
    broadcast budgets — the semi-join path (triples_from_doc_entities)
    is the general fallback."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        dim: int = S.EMB_DIM,
        encoder=None,
    ):
        """``encoder``: any ``(texts, dim) -> (B, dim) ndarray`` callable,
        used for BOTH the static entity matrix and the context side
        (the reference's biencoder shares the BERT weights). Default is
        the feature-hash stand-in; a torch/ONNX model (or
        ``make_mlp_encoder``) slots in with no plan change —
        tests/test_parity.py proves the swap end-to-end."""
        from bootleg_spark.functions.embedding import featurize_texts

        self.spark = spark
        self.sf_dir = sf_dir
        self.dim = dim
        self.encoder = encoder or featurize_texts
        self.dims = build_dims(spark, sf_dir)
        sc = spark.sparkContext
        # every staged query broadcast-joins these candidate arrays (the
        # reference builds its alias trie once, bootleg_annotator.py:240-248)
        self.grouped_cands = grouped_candidates(self.dims["alias_cands"]).cache()
        self.ent_strs = entity_strings(self.dims["entities"], self.dims["kg_relations"])
        self.emb_df = build_entity_embeddings(self.ent_strs, dim, self.encoder)
        # one action: emb_df (one row per qid) with the qid's candidate
        # memberships and relations as arrays, so an entity under two
        # aliases is still one matrix row (alias_cands is built from the
        # entity dim, so every candidate qid has a row)
        cands = self.dims["alias_cands"].groupBy("qid").agg(
            F.collect_list(F.struct("alias", "rank")).alias("cands")
        )
        rels = self.dims["kg_relations"].groupBy(F.col("subj_qid").alias("qid")).agg(
            F.collect_list(F.struct("rel", "obj_qid")).alias("rels")
        )
        tbl = self.emb_df.select("qid", "emb").join(cands, "qid", "left").join(rels, "qid", "left").toArrow()
        qids = tbl.column("qid").to_pylist()
        mat = tbl.column("emb").combine_chunks().flatten().to_numpy().reshape(len(qids), dim)
        self.ent_matrix_bc = sc.broadcast(({q: i for i, q in enumerate(qids)}, mat))
        ranked: dict[str, list] = {}
        rel_rows = {}
        for q, cs, rs in zip(qids, tbl.column("cands").to_pylist(), tbl.column("rels").to_pylist()):
            for c in cs or ():
                ranked.setdefault(c["alias"], []).append((c["rank"], q))
            if rs:
                rel_rows[q] = [(r["rel"], r["obj_qid"]) for r in rs]
        k = S.MAX_CANDIDATES
        cand_rows = {a: ([q for _, q in sorted(rq)] + ["-1"] * k)[:k] for a, rq in ranked.items()}
        self.cand_dict_bc = sc.broadcast(cand_rows)
        # the fused kernel looks up cands[a] for every alias it matches,
        # so the alias set is exactly the candidate dict's keys
        self.alias_set_bc = sc.broadcast(frozenset(cand_rows))
        # longest alias word count: drives the fused kernel's extractor
        # dead-pass skip; linked_relational needs it to be 1
        self.dict_max_words = max_alias_words(cand_rows)
        self.rel_dict_bc = sc.broadcast(rel_rows)

    def pages(self) -> DataFrame:
        return pages_table(self.spark, self.sf_dir)

    def linked(self, pages: DataFrame | None = None) -> DataFrame:
        """① + the staged chain (:meth:`link_texts`) over a pages frame.

        Column hygiene for the Python stages: after ① the plan carries
        only (url, doc_id, text_extracted) — html/text/warc_ts must never
        ride through Arrow into the mention/scoring UDFs (at 100 TB the
        html column alone is the table)."""
        p = extract_text(pages if pages is not None else self.pages()).select(
            "url", "doc_id", "text_extracted"
        )
        return self.link_texts(p, "text_extracted")

    def link_texts(self, df: DataFrame, text_col: str, threshold: float = S.PROB_THRESHOLD) -> DataFrame:
        """② + ③ + ④ as staged operators: ngram mentions of ``text_col``
        → candidate arrays → neural scoring with this pipeline's
        ``(encoder, dim)``, the pair that built the entity matrix. One
        row per mention linked above ``threshold``; every input column
        is carried through. The reference the fused kernel
        (:meth:`_link`) is checked against, and the annotator's plan."""
        mentions = extract_mentions_ngram(df, self.alias_set_bc, text_col=text_col)
        return self._link_mentions(mentions, text_col, threshold)

    def _link_mentions(self, mentions: DataFrame, text_col: str, threshold: float) -> DataFrame:
        """③ + ④ over mention rows of ``text_col``: broadcast the cached
        candidate arrays on, then score with this pipeline's
        ``(encoder, dim)``. Shared by :meth:`link_texts` and
        :meth:`linked_relational`."""
        mc = attach_candidates(mentions, self.grouped_cands)
        return link_neural(
            mc, self.ent_matrix_bc, encoder=self.encoder, dim=self.dim,
            text_col=text_col, threshold=threshold,
        )

    def _link(self, pages: DataFrame | None, cols: list[str], emit, schema: str) -> DataFrame:
        """The one fused linking kernel: ①–④ in ONE ``mapInPandas`` pass.

        The staged plan chains three ArrowEvalPython nodes — each spawns
        its own Python worker per task and round-trips the page text
        through Arrow (3 workers/task, 4 JVM↔Python hops). Fusing
        extract → mentions → candidates → score into a single iterator
        measured ~3× the throughput at 32 cores (45k → 132k pages/sec)
        with byte-identical output (pytest-pinned equivalence); the
        staged operators remain the compositional/testing surface.

        Per Arrow batch of ``cols`` + html, the kernel strips each page,
        matches its mentions, encodes every mention's context and scores
        them all at once, then yields ``emit(batch, found, qid, prob)``:
        the batch's input columns, the (alias, start, end) mentions found
        on each page, and one qid/prob per mention in page order (qid
        "-1" when no candidate is in the entity matrix)."""
        import numpy as np

        from bootleg_spark.functions.embedding import link_candidates
        from bootleg_spark.functions.textproc import extract_context, extract_html_text
        from bootleg_spark.operators.mentions import ngram_extract_aliases

        alias_bc, mat_bc, cand_bc = self.alias_set_bc, self.ent_matrix_bc, self.cand_dict_bc
        enc, dim, dict_w = self.encoder, self.dim, self.dict_max_words
        window = S.MAX_SEQ_WINDOW_LEN

        def _kernel(batches):
            aliases = alias_bc.value
            qid2row, mat = mat_bc.value
            cands = cand_bc.value
            for pdf in batches:
                found, ctx, cl = [], [], []
                for html in pdf["html"]:
                    text = extract_html_text(bytes(html))
                    ms = ngram_extract_aliases(text, aliases, dict_max_words=dict_w)
                    found.append(ms)
                    for a, s, e in ms:
                        ctx.append(extract_context((s, e), text, window))
                        cl.append(cands[a])
                vecs = enc(ctx, dim) if ctx else np.zeros((0, dim))
                qid, prob, _ = link_candidates(vecs, cl, qid2row, mat)
                yield emit(pdf, found, qid, prob)

        p = pages if pages is not None else self.pages()
        return p.select(*cols, "html").mapInPandas(_kernel, schema)

    def linked_fused(self, pages: DataFrame | None = None) -> DataFrame:
        """①–④ through the fused kernel (:meth:`_link`): one row per
        mention linked above ``S.PROB_THRESHOLD``, the staged :meth:`linked`
        columns minus the candidate arrays."""
        span_cols = ["url", "doc_id", "mention_pos", "alias", "char_start", "char_end"]

        def _mention_rows(pdf, found, qid, prob):
            rows = [
                (url, doc_id, i, a, s, e)
                for url, doc_id, ms in zip(pdf["url"], pdf["doc_id"], found)
                for i, (a, s, e) in enumerate(ms)
            ]
            out = pd.DataFrame(rows, columns=span_cols)
            out["qid_pred"] = qid
            out["prob"] = prob
            return out

        schema = (
            "url string, doc_id long, mention_pos int, alias string, "
            "char_start int, char_end int, qid_pred string, prob double"
        )
        out = self._link(pages, ["url", "doc_id"], _mention_rows, schema)
        return out.where((F.col("qid_pred") != "-1") & (F.col("prob") > F.lit(S.PROB_THRESHOLD)))

    def linked_relational(self, pages: DataFrame | None = None) -> DataFrame:
        """① + ② in the JVM (the html strip and the relational mention
        matcher, both codegen), then the staged ③ + ④ of
        :meth:`_link_mentions`. Exact ONLY on pages passing
        ``jvm_extractable_expr`` ∧ ``clean_text_expr`` with a
        single-token dictionary, so a page outside that guard fails the
        query (``raise_error`` in the strip's projection) instead of
        yielding wrong rows. On guarded pages the output equals
        :meth:`linked`'s exactly, for any encoder. It backs the
        ``linked_relational`` query; triples always take the fused
        kernel.
        """
        from bootleg_spark.operators.jvm_link import clean_text_expr, html_text_expr, jvm_extractable_expr
        from bootleg_spark.operators.mentions import extract_mentions_ngram_relational

        if self.dict_max_words != 1:
            raise ValueError(
                "linked_relational needs a single-token alias dictionary "
                f"(dict_max_words={self.dict_max_words}); use linked_fused"
            )
        # the guard reads the stripped text as a column of a second
        # projection, so the regex chain runs once per row
        text = F.col("text_extracted")
        p = (pages if pages is not None else self.pages()).select(
            "url", "doc_id", jvm_extractable_expr(F.col("html")).alias("ok"),
            html_text_expr(F.col("html")).alias("text_extracted"),
        ).select("url", "doc_id", F.when(F.col("ok") & clean_text_expr(text), text).otherwise(
            F.raise_error(F.concat(F.lit("linked_relational: page outside the JVM guard: "), "url"))
        ).alias("text_extracted"))
        mentions = extract_mentions_ngram_relational(
            p, self.dims["aliases"], text_col="text_extracted"
        )
        return self._link_mentions(mentions, "text_extracted", S.PROB_THRESHOLD).select(
            "url", "doc_id", "mention_pos", "alias", "char_start", "char_end",
            "qid_pred", "prob",
        )

    def triples_fused_local(
        self,
        pages: DataFrame | None = None,
        group_cols: tuple | list = (),
    ) -> DataFrame:
        """①–⑤ in one pass: per-page triple emission inside the fused
        kernel (:meth:`_link`).

        A page's mentions are all produced from its single input row, so
        the page's linked-entity set is complete partition-locally — the
        relation check ("both endpoints on this page") needs NO shuffle
        when the relation dict is broadcastable. The whole job becomes
        mapInPandas → one global dropDuplicates. At full-Wikidata relation
        volume (beyond broadcast budgets) use ``triples(fused=False…)``'s
        semi-join plan instead.

        ``group_cols`` are page columns carried onto each of the page's
        triples; the dedup is then per group (the materializer's
        ``_bucket``), as in ``triples_from_doc_entities(group_cols=…)``.
        """
        rel_bc = self.rel_dict_bc
        p = pages if pages is not None else self.pages()
        group_cols = list(group_cols)
        cols = group_cols + ["subj", "pred", "obj"]

        def _page_triples(pdf, found, qid, prob):
            rels = rel_bc.value
            out, lo = set(), 0
            for ms, *key in zip(found, *(pdf[c] for c in group_cols)):
                hi = lo + len(ms)
                ents = {
                    qid[i] for i in range(lo, hi) if qid[i] != "-1" and prob[i] > S.PROB_THRESHOLD
                }
                lo = hi
                for q in ents:
                    for rel, obj in rels.get(q, ()):
                        if obj in ents and obj != q:
                            out.add((*key, q, rel, obj))
            return pd.DataFrame(list(out), columns=cols)

        schema = "".join(f"{c} {p.schema[c].dataType.simpleString()}, " for c in group_cols)
        local = self._link(p, group_cols, _page_triples, schema + "subj string, pred string, obj string")
        return local.dropDuplicates(cols)

    def triples(self, pages: DataFrame | None = None, fused: bool = True) -> DataFrame:
        """⑤ co-occurrence pairs ⋈ relations → dedup'd (subj, pred, obj).

        ``fused=True`` (default) runs ①–⑤ as :meth:`triples_fused_local`,
        the one fused linking kernel. Round 4 benchmarked it against two
        JVM-heavy strategies interleaved at sf0.1×50 on 32 pinned cores
        (BENCH.md "Mention-matcher strategies"): fused 2.15 s best, JVM
        extraction + an Arrow scorer over mention rows 6.0 s, zero
        Python 9.9 s — per-mention JVM scoring pays exchanges +
        O(dim·T) aggregation that cost more than the single-core numpy
        it displaces, so both were deleted. ``fused=False`` runs the
        staged :meth:`linked` plan plus the relation semi-join, the
        reference the fused kernel is checked against. Both link with
        the neural scorer; the word → popularity → triples chain is the
        ``triples_popularity`` query, composed from the operators.
        """
        if fused:
            return self.triples_fused_local(pages)
        ents = doc_entities(self.linked(pages), qid_col="qid_pred")
        return triples_from_doc_entities(ents, self.dims["kg_relations"])


def _manifest_done(out_dir: str, layout: str, sf_dir: str) -> set[int]:
    """Buckets the store's ``_manifest.jsonl`` marks done (empty when
    there is no manifest): what resume skips and what publication
    requires. Refuses a manifest written under another layout (bucket
    key, partition scheme, bucket count) or from another corpus: either
    would skip a different page set than the store holds."""
    manifest_path = os.path.join(out_dir, "_manifest.jsonl")
    done: set[int] = set()
    if not os.path.exists(manifest_path):
        return done
    with open(manifest_path) as f:
        raw = f.readlines()
    for idx, line in enumerate(raw):
        if not line.strip():
            continue
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            if idx == len(raw) - 1:
                # torn TRAILING line: the process died mid-append.
                # Truncate it away (so this run's append starts on
                # a clean line instead of concatenating onto the
                # garbage) and carry on — the bucket is simply not
                # marked done and gets recomputed; the dynamic-
                # partition overwrite write is idempotent so the
                # partial dir is replaced, never double-counted.
                cut = len("".join(raw[:idx]).encode())
                with open(manifest_path, "r+b") as tf:
                    tf.truncate(cut)
                break
            raise  # torn line MID-file = real corruption, refuse
        for key, want in (("layout", layout), ("sf_dir", sf_dir)):
            if rec.get(key) != want:
                raise ValueError(
                    f"manifest {manifest_path} was written with {key} "
                    f"{rec.get(key)!r}, this run has {want!r}; its "
                    "buckets hold other pages — use a fresh out_dir"
                )
        done.add(rec["bucket"])
    return done


def materialize_triples(pipe: KgPipeline, out_dir: str, n_buckets: int = 4) -> list[dict]:
    """Link the corpus once into a store of triples bucketed by
    doc-id-hash, with a checkpoint manifest: the run's one linking
    pass, which :func:`snapshot_triples` then publishes.

    A single filtered scan feeds every remaining bucket through the
    fused kernel's triple emitter (:meth:`KgPipeline.triples_fused_local`
    with ``group_cols=[_bucket]``, so triples dedup per bucket) and
    ``partitionBy("_bucket")`` with dynamic partition overwrite. The
    per-bucket page and triple counts come from two ``Observation``
    objects (CollectMetrics inside the same write action: no extra
    scan, no read-back). On resume, completed buckets are filtered out
    of the scan and their directories untouched — the Spark-native
    version of the reference's skip-if-exists prep caching
    (bootleg/utils/data_utils.py:57-104). At cluster scale ``n_buckets``
    grows with the input so each bucket is one recoverable unit of work.
    """
    from pyspark.sql import Observation

    from bootleg_spark.sources import store

    os.makedirs(out_dir, exist_ok=True)
    layout = store.layout_id(["doc_id"], n_buckets)
    done = _manifest_done(out_dir, layout, pipe.sf_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return []

    def per_bucket_counts(df, name):  # filled by the action that consumes df
        obs = Observation(name)
        bucket = F.col(store.BUCKET_COL)
        return df.observe(obs, *[F.sum((bucket == b).cast("long")).alias(f"b{b}") for b in todo]), obs

    t0 = time.time()
    pages = pipe.pages().withColumn(store.BUCKET_COL, store.bucket_expr(n_buckets, F.col("doc_id")))
    if done:
        pages = pages.where(~F.col(store.BUCKET_COL).isin(*done))
    pages, page_obs = per_bucket_counts(pages, "pages_per_bucket")
    tri = pipe.triples_fused_local(pages, group_cols=[store.BUCKET_COL])
    tri, tri_obs = per_bucket_counts(tri, "triples_per_bucket")
    # dynamic partition overwrite: ONE pass writes every remaining
    # bucket dir; completed buckets' dirs are untouched (their rows were
    # filtered out above), so a crash-and-resume rewrites only the
    # buckets missing from the manifest
    conf = pipe.spark.conf
    prev_mode = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        store.write_buckets(tri, os.path.join(out_dir, "triples"), mode="overwrite")
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    dt = time.time() - t0
    page_counts, tri_counts = page_obs.get, tri_obs.get  # filled by the write
    total_pages = sum(int(page_counts[f"b{b}"] or 0) for b in todo)
    records = [
        {
            "bucket": b,
            "layout": layout,
            "pages": int(page_counts[f"b{b}"] or 0),
            "triples": int(tri_counts[f"b{b}"] or 0),
            "seconds": round(dt, 3),  # wall time of the shared single pass
            "pages_per_sec": round(total_pages / dt, 2) if dt > 0 else None,
            "sf_dir": pipe.sf_dir,
        }
        for b in todo
    ]
    with open(os.path.join(out_dir, "_manifest.jsonl"), "a") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    return records


def snapshot_triples(pipe: KgPipeline, out_dir: str, table: str, n_buckets: int, n_files: int = 8) -> dict:
    """Publish the bucket store :func:`materialize_triples` wrote to
    ``out_dir`` as a committed snapshot of a snapshot-manifest graph
    table (sources/snaptable.py) — the north-star "partitioned Iceberg
    graph tables" shape, minus the jars. Links nothing: the store is
    the run's one linking pass, and ``pipe`` supplies only the session
    and the ``sf_dir`` the manifest must match.

    Raises ``ValueError`` unless every one of the ``n_buckets`` buckets
    is in the manifest (loaded as resume loads it). The store dedups
    per bucket; the graph is its ``distinct`` union, so it holds each
    triple once and equals ``pipe.triples()``.

    ``repartitionByRange(n_files, "subj")`` gives every data file a
    tight subj [min, max] in the manifest, so entity-centric reads
    ("all triples of Q123":
    ``snaptable.read_table(spark, table, prune=("subj", "=", qid))``)
    open one file out of ``n_files`` — metadata-only pruning, the
    graph-table access path that matters at 10^12 documents. Each
    publication commits a new VERSION that replaces the graph (old
    versions stay time-travelable until vacuum). Returns the committed
    snapshot dict."""
    from bootleg_spark.sources import snaptable as st
    from bootleg_spark.sources import store

    layout = store.layout_id(["doc_id"], n_buckets)
    done = _manifest_done(out_dir, layout, pipe.sf_dir)
    missing = [b for b in range(n_buckets) if b not in done]
    if missing:
        raise ValueError(
            f"buckets {missing} of {out_dir} are not materialized; "
            "run materialize_triples to completion before publishing"
        )
    tri = store.read_buckets(pipe.spark, os.path.join(out_dir, "triples"), list(range(n_buckets)))
    # north-rule lineage: the snapshot records what produced it; the
    # write/commit throughput is stamped by write_table itself (inside
    # the manifest BEFORE the atomic publish — committed snapshots are
    # write-once and never edited after the fact)
    return st.write_table(
        tri.select("subj", "pred", "obj").distinct().repartitionByRange(n_files, "subj"),
        table,
        mode="overwrite",
        extra={"lineage": {"sf_dir": pipe.sf_dir, "layout": layout}},
    )


def insert_new_triples(tri: DataFrame, graph_table: str, batch_id: int) -> dict | None:
    """Land ``tri`` in ``graph_table`` with edge-set semantics: the one
    incremental graph writer, shared by :func:`incremental_kg_update`
    and the page stream (streaming/ingest.py).

    The anti-join against the graph gives the KG its set semantics
    across batches (``pipe.triples`` dedups within a batch only); at
    scale it is a shuffle join on (subj, pred, obj) against the graph —
    the standard insert-if-absent shape, prunable further by reading
    only the subj-range files the batch's triples can touch. The
    survivors commit under the graph's ``batch_id`` watermark
    (``commit_stream_batch``), so a replayed batch is a no-op even if
    the anti-join has not already emptied it.

    Returns the committed snapshot, or ``None`` for a replayed
    ``batch_id``."""
    from bootleg_spark.sources import snaptable as st

    if st.latest_version(graph_table) is not None:
        existing = st.read_table(tri.sparkSession, graph_table).select(
            "subj", "pred", "obj"
        )
        tri = tri.join(existing, ["subj", "pred", "obj"], "left_anti")
    return st.commit_stream_batch(tri, graph_table, batch_id=batch_id)


def incremental_kg_update(pipe: KgPipeline, pages_table: str, graph_table: str) -> dict | None:
    """One incremental KG-construction step over the table-as-log: the
    crawl appends pages to ``pages_table`` (snapshot-manifest table);
    this consumes ONLY the pages added since the last acknowledged run
    (consumer-group offset), runs ``pipe.triples`` (the fused kernel)
    on that slice, and lands the resulting triples in ``graph_table``
    with edge-set semantics and exactly-once effects. The north-star's
    "resumes idempotently mid-run" at the job-chaining grain — a
    re-crawl cycle never reprocesses the whole corpus and never
    double-writes an edge.

    Exactly-once is belt-and-braces across the two crash seams:

    - crash AFTER the graph commit, BEFORE the ack → the window
      replays, but (a) the anti-join now removes every triple (they
      are already in the graph) and (b) the graph's stream-batch
      watermark (= consumed pages version) turns the re-commit into a
      no-op anyway.
    - crash before the commit → plain replay, nothing was written.

    Both guards live in :func:`insert_new_triples`.

    Returns ``{"consumed_version", "new_triples", "commit"}`` or
    ``None`` when the consumer is caught up."""
    from bootleg_spark.sources import snaptable as st

    got = st.consume_appends(pipe.spark, pages_table, "kg-builder")
    if got is None:
        return None
    pages, v = got
    tri = pipe.triples(pages)
    commit = insert_new_triples(tri, graph_table, batch_id=v)
    st.ack_consumed(pages_table, "kg-builder", v)
    return {
        "consumed_version": v,
        "new_triples": commit["new_rows"] if commit else 0,
        "commit": commit,
    }
