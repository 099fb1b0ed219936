"""The benchmark workloads. Each one generates its inputs from the seed,
prepares the program (the part of ``setup_s`` after session start),
runs one warm-up round whose output is checked in full against an
independent reference, and then runs timed rounds.

A round returns its timed wall, the items it processed, the wall of each
primary operation and one ok-flag per operation. Checks run between
rounds, outside the timed walls.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

import checks
import gen
from sparkstats import median

# documents behind the entity profile; the profile (aliases, entities,
# relations) depends on the vocabulary, not on the row count
PROFILE_DOCS = 1000
ALIASES = frozenset(gen.BASE_VOCAB) - gen.STOPWORDS


@dataclass
class Round:
    wall: float
    items: int
    op_walls: list[float]
    ok: list[bool]
    spans: list = field(default_factory=list)


def _digest_exprs(cols):
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))).alias("h"),
    )


def to_noop(df) -> dict:
    """Run ``df`` into the noop sink; returns its row-set digest."""
    obs = Observation()
    df.observe(obs, *_digest_exprs(df.columns)).write.format("noop").mode("overwrite").save()
    return dict(obs.get)


def collect_digest(df) -> tuple[list[tuple], dict]:
    obs = Observation()
    rows = [tuple(r) for r in df.observe(obs, *_digest_exprs(df.columns)).collect()]
    return rows, dict(obs.get)


def pickled_bytes(*broadcasts) -> int:
    import pickle

    return sum(len(pickle.dumps(b.value, protocol=pickle.HIGHEST_PROTOCOL)) for b in broadcasts)


class Workload:
    item = "items"

    def __init__(self, work: str):
        self.work = work
        self.failures: list[str] = []

    def fail(self, msgs: list[str]) -> bool:
        self.failures.extend(msgs)
        return not msgs

    def write_docs(self, df: pd.DataFrame, name: str) -> str:
        """Write ``df`` as ``<work>/<name>/documents.parquet``; returns the directory."""
        return os.path.dirname(gen.write_parquet(df, os.path.join(self.work, name), "documents"))


class KgIncremental(Workload):
    """Crawl batches appended to a pages snapshot table and turned into
    graph-table commits by ``incremental_kg_update``; each round uses
    fresh tables and ends with one subject-pruned graph read.

    Each batch draws its pages from the base vocabulary, a few function
    words and words only that batch uses, so every batch carries triples
    the graph lacks."""

    item = "pages"
    BATCHES, PAGES, BATCH_WORDS = 3, 1500, 12

    def generate(self, rng) -> dict:
        words = [gen.extra_vocab(self.BATCH_WORDS, b * self.BATCH_WORDS) for b in range(self.BATCHES)]
        vocab = gen.BASE_VOCAB + sum(words, [])
        self.profile_dir = self.write_docs(gen.covering_documents(rng, PROFILE_DOCS, vocab), "profile")
        batches = [gen.documents(rng, self.PAGES, gen.BASE_VOCAB + list(gen.FUNCTION_WORDS) + w,
                                 id0=b * self.PAGES)
                   for b, w in enumerate(words)]
        self.batch_dirs = [self.write_docs(d, f"batch{b}") for b, d in enumerate(batches)]
        union = pd.concat(batches, ignore_index=True)
        self.union_dir = self.write_docs(union, "union")
        self.rounds = 0
        self.new_per_batch: list[list[int]] = []
        return gen.mention_props(union["text"], ALIASES.union(*words))

    def setup(self, spark) -> None:
        from bootleg_spark.plans.pipeline import KgPipeline
        from bootleg_spark.sources import synth

        self.spark = spark
        self.pipe = KgPipeline(spark, self.profile_dir)
        self.batches = [synth.pages_table(spark, d) for d in self.batch_dirs]
        self.union = synth.pages_table(spark, self.union_dir)

    def warmup(self, tracer) -> None:
        self.expect = [tuple(r) for r in self.pipe.triples(self.union).collect()]
        # the reference comes from the fused kernel, so it must itself agree
        # with the staged path, which links in separate plan stages and
        # joins relations in the JVM instead of inside the fused kernel
        staged = self.pipe.triples(self.union, fused=False).collect()
        self.fail(checks.same_rows(staged, self.expect, "fused triples vs staged path"))
        subjects = sorted({r[0] for r in self.expect})
        self.qid = subjects[len(subjects) // 2]
        # the first rounds are markedly slower than later ones; two full
        # untimed rounds let the timed ones start settled
        for k in range(2):
            self._run(self.batches, f"warm{k}", tracer)

    def _tables(self, tag: str) -> tuple[str, str]:
        base = os.path.join(self.work, "tables", tag)
        return os.path.join(base, "pages"), os.path.join(base, "graph")

    def _run(self, batches, tag: str, tracer):
        """Append and process ``batches`` on fresh tables, then read one
        subject back; afterwards (untimed) the graph table must equal the
        one-shot triples of all batches, each triple once."""
        from bootleg_spark.plans import pipeline
        from bootleg_spark.sources import snaptable as st

        pages_t, graph_t = self._tables(tag)
        walls, new, sps = [], [], []
        for df in batches:
            t0 = time.perf_counter()
            with tracer.span("kg_incremental.batch") as sp:
                st.write_table(df, pages_t, mode="append")
                res = pipeline.incremental_kg_update(self.pipe, pages_t, graph_t)
            walls.append(time.perf_counter() - t0)
            new.append(res["new_triples"])
            sps.append(sp)
        t0 = time.perf_counter()
        with tracer.span("kg_incremental.pruned_read") as sp:
            pruned = st.read_table(self.spark, graph_t, prune=("subj", "=", self.qid))
            pruned = pruned.where(F.col("subj") == self.qid).collect()
        walls.append(time.perf_counter() - t0)
        sps.append(sp)
        graph = st.read_table(self.spark, graph_t).select("subj", "pred", "obj").collect()
        ok = self.fail(
            checks.same_rows(self.expect, graph, f"graph table after round {tag}")
            + checks.same_rows([r for r in self.expect if r[0] == self.qid], pruned,
                               f"pruned read after round {tag}"))
        return walls, new, ok, sps

    def round(self, tracer) -> Round:
        self.rounds += 1
        walls, new, ok, sps = self._run(self.batches, f"r{self.rounds}", tracer)
        self.new_per_batch.append(new)
        return Round(sum(walls), self.BATCHES * self.PAGES, walls[:-1], [ok] * len(walls), sps)

    def layers(self, ctx) -> dict:
        from bootleg_spark.sources import snaptable as st

        tr = ctx.tracer
        out = pipeline_layers(ctx, self.pipe, self.batches[0], "kg_incremental.batch", self.PAGES)
        per_batch = [self.pipe.triples(b).count() for b in self.batches]
        shares = [n / t if t else 0.0 for n, t in zip(self.new_per_batch[-1], per_batch)]
        ctx.inputs["new_triple_share_per_batch"] = shares
        out["pipeline.triples_out"] = float(np.mean(per_batch))
        out["pipeline.new_triple_ratio"] = float(np.mean(shares))
        batches = tr.named("kg_incremental.batch")

        def child_walls(name):
            return [s["end"] - s["start"] for b in batches for s in tr.spans
                    if s["parent"] == b["id"] and s["name"] == name]

        meta = ("snaptable.load_snapshot", "snaptable.latest_version")
        per_batch_meta, loads = [], []
        for b in batches:
            spans = tr.descendants(b)
            ids = {s["id"]: s for s in spans}
            top = [s for s in spans if s["name"] in meta
                   and not (s["parent"] in ids and ids[s["parent"]]["name"] in meta)]
            per_batch_meta.append(sum(s["end"] - s["start"] for s in top))
            loads.append(sum(s["name"] == "snaptable.load_snapshot" for s in spans))
        rounds = [per_batch_meta[i:i + self.BATCHES] for i in range(0, len(per_batch_meta), self.BATCHES)]
        pages_t, graph_t = self._tables(f"r{self.rounds}")
        files_all = st.plan_files(graph_t)[1]
        files_pruned = st.plan_files(graph_t, prune=("subj", "=", self.qid))[1]
        out.update({
            "snaptable.append_s.p50": median(child_walls("snaptable.write_table")),
            "snaptable.consume_s.p50": median(
                [s["end"] - s["start"] for s in tr.named("snaptable.consume_appends")]),
            "snaptable.commit_s.p50": median(
                [s["end"] - s["start"] for s in tr.named("snaptable.commit_stream_batch")]),
            "snaptable.metadata_s": median(per_batch_meta),
            "snaptable.snapshot_loads_per_batch": float(np.mean(loads)),
            "snaptable.metadata_s.last_over_first": median(
                [r[-1] / r[0] for r in rounds if len(r) == self.BATCHES and r[0] > 0]),
            "snaptable.manifest_bytes": sum(_dir_bytes(os.path.join(t, st.SNAP_DIR)) for t in (pages_t, graph_t)),
            "snaptable.files": sum(len(st.load_snapshot(t)["files"]) for t in (pages_t, graph_t)),
            "snaptable.commit_conflicts": ctx.errors.get("CommitConflict", 0),
            "snaptable.prune_files_ratio": len(files_pruned) / max(len(files_all), 1),
        })
        return out


class NearDup(Workload):
    """One pass of the four near-duplicate operators over seeded clusters
    of edited documents with one hot cluster."""

    item = "docs"
    DOCS, HOT, CLUSTERS, MAX_CLUSTER = 1500, 300, 100, 6
    # 300 words, not sf0.1's 30: with 30 words unrelated documents share LSH
    # buckets often enough to chain into seed-dependent components, and the
    # number of dup_clusters rounds (most of a pass) then varies by seed
    VOCAB = gen.BASE_VOCAB + gen.extra_vocab(270)
    THRESHOLD = 0.2  # the value the minhash_verified_pairs oracle is written for

    def generate(self, rng) -> dict:
        docs, props = gen.near_dup_documents(rng, self.DOCS, self.HOT, self.CLUSTERS, self.MAX_CLUSTER,
                                             self.VOCAB)
        self.dir = self.write_docs(docs, "docs")
        return props

    def setup(self, spark) -> None:
        from bootleg_spark.sources import synth

        self.spark = spark
        self.docs = synth.read_documents(spark, self.dir)

    def ops(self):
        from bootleg_spark.operators import dedup, textstats

        d = self.docs
        return (
            ("dedup.minhash_verified", lambda: dedup.minhash_verified_pairs(d, threshold=self.THRESHOLD)),
            ("dedup.simhash", lambda: dedup.simhash_near_pairs(d)),
            ("textstats.fingerprints", lambda: textstats.doc_fingerprints(d)),
            ("dedup.keep", lambda: dedup.dedup_keep(d, dedup.minhash_lsh_pairs(d))),
        )

    def warmup(self, tracer) -> None:
        import __spark_entry__ as entry

        self.expect = {}
        for name, build in self.ops():
            rows, self.expect[name] = collect_digest(build())
            if name == "dedup.minhash_verified":
                oracle = checks.oracle_rows(
                    entry.oracle_sql()["minhash_verified_pairs"],
                    {"documents": os.path.join(self.dir, "documents.parquet")})
                self.fail(checks.same_rows(oracle, rows, "minhash_verified_pairs vs DuckDB oracle"))
        # the first passes are markedly slower than later ones; one more
        # untimed pass lets the timed ones start settled
        self.round(tracer)

    def round(self, tracer) -> Round:
        t0 = time.perf_counter()
        got = {}
        with tracer.span("near_dup.pass") as sp:
            for name, build in self.ops():
                with tracer.span(name):
                    got[name] = to_noop(build())
        wall = time.perf_counter() - t0
        ok = self.fail([m for name in got for m in checks.same_digest(self.expect[name], got[name], name)])
        return Round(wall, self.DOCS, [wall], [ok], [sp])

    def layers(self, ctx) -> dict:
        from bootleg_spark.operators import dedup

        tr = ctx.tracer
        cands = dedup.minhash_lsh_pairs(self.docs).count()
        biggest = (dedup.minhash_band_buckets(self.docs).groupBy("band", "min_hash").count()
                   .agg(F.max("count")).first()[0])
        verified = self.expect["dedup.minhash_verified"]["n"]

        def walls(name):
            return median([s["end"] - s["start"] for s in tr.named(name)])

        # the pair stage of a minhash_verified call is its longest stage: the
        # one that emits each LSH bucket's pairs and verifies them in-row
        skew, share, excess = [], [], []
        for p in tr.named("near_dup.pass"):
            for s in tr.descendants(p):
                if s["name"] != "dedup.minhash_verified":
                    continue
                st = max(ctx.stages_of(s), key=lambda x: x["run_s"])
                stage_wall = st["end"] - st["start"]
                skew.append(st["task_max_s"] / st["task_median_s"] if st["task_median_s"] > 0 else 1.0)
                share.append(stage_wall / (p["end"] - p["start"]))
                excess.append(stage_wall - st["run_s"] / ctx.cores)
        return {
            "dedup.lsh_candidates": cands,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / max(cands, 1),
            "dedup.max_bucket": biggest,
            "dedup.minhash_verified_s": walls("dedup.minhash_verified"),
            "dedup.simhash_s": walls("dedup.simhash"),
            "textstats.fingerprints_s": walls("textstats.fingerprints"),
            "dedup.keep_s": walls("dedup.keep"),
            "dedup.pair_task_s.max_over_median": median(skew),
            "dedup.pair_stage_share": median(share),
            # what perfectly balanced tasks would take off the pair stage
            "dedup.pair_stage_excess_s": median(excess),
        }


def kernel_replay(pipe, htmls: list, threshold: float) -> dict:
    """Single-process replay of the public functions the fused kernel
    (``KgPipeline.triples_fused_local``) calls, on a fixed page sample,
    with one clock per phase. Returns per-page / per-mention costs."""
    import numpy as np

    from bootleg_spark import synthspec as S
    from bootleg_spark.functions.embedding import score_batch
    from bootleg_spark.functions.textproc import extract_context, extract_html_text
    from bootleg_spark.operators.mentions import ngram_extract_aliases

    aliases = pipe.alias_set_bc.value
    qid2row, mat = pipe.ent_matrix_bc.value
    cands = pipe.cand_dict_bc.value
    dict_w = max((len(a.split()) for a in aliases), default=1)
    clock = time.perf_counter

    t0 = clock()
    texts = [extract_html_text(bytes(h)) for h in htmls]
    t1 = clock()
    found = [ngram_extract_aliases(t, aliases, 1, 6, dict_max_words=dict_w) for t in texts]
    t2 = clock()
    ctx, cl = [], []
    for text, ms in zip(texts, found):
        for a, s, e in ms:
            ctx.append(extract_context((s, e), text, S.MAX_SEQ_WINDOW_LEN))
            cl.append(cands[a])
    t3 = clock()
    n = len(ctx)
    emb = pipe.encoder(ctx, pipe.dim)
    t4 = clock()
    k = max((len(c) for c in cl), default=1)
    ent = np.zeros((n, k, pipe.dim))
    mask = np.zeros((n, k), dtype=bool)
    for i, c in enumerate(cl):
        for j, q in enumerate(c):
            row = qid2row.get(q)
            if row is not None:
                ent[i, j] = mat[row]
                mask[i, j] = True
    probs, arg = score_batch(emb, ent, mask)
    t5 = clock()
    top = probs[np.arange(n), arg]
    pages, per_m = len(texts), max(n, 1)
    return {
        "textproc.extract_us_per_page": 1e6 * (t1 - t0) / pages,
        "mentions.ngram_us_per_page": 1e6 * (t2 - t1) / pages,
        "textproc.context_us_per_mention": 1e6 * (t3 - t2) / per_m,
        "embedding.encode_us_per_mention": 1e6 * (t4 - t3) / per_m,
        "embedding.score_us_per_mention": 1e6 * (t5 - t4) / per_m,
        "mentions.per_page": n / pages,
        "candidates.per_mention": sum(len(c) for c in cl) / per_m,
        "linking.linked_ratio": float((mask.any(axis=1) & (top > threshold)).sum()) / per_m,
        "kernel.us_per_page": 1e6 * (t5 - t0) / pages,
    }


def pipeline_layers(ctx, pipe, pages, op_name: str, pages_per_op: int) -> dict:
    """Arrow-boundary and kernel-replay metrics of a KG workload."""
    from bootleg_spark import synthspec as S

    sample = [r[0] for r in pages.where(F.col("doc_id") % 10 == 0).limit(2000).select("html").collect()]
    replay = kernel_replay(pipe, sample, S.PROB_THRESHOLD)
    ops = ctx.tracer.named(op_name)
    op_wall = median([s["end"] - s["start"] for s in ops])
    out = {k: v for k, v in replay.items() if k != "kernel.us_per_page"}
    out["kernel.python_share"] = replay["kernel.us_per_page"] * 1e-6 * pages_per_op / ctx.cores / op_wall
    out["pipeline.arrow_in_bytes_per_page"] = pages.agg(F.avg(F.length("html"))).first()[0]
    out["pipeline.triples_pre_dedup"] = median(
        [sum(ctx.reader.node_rows(ctx.tracer.group(d), "MapInPandas") for d in ctx.tracer.descendants(s))
         for s in ops])
    out["pipeline.broadcast_bytes"] = pickled_bytes(
        pipe.alias_set_bc, pipe.cand_dict_bc, pipe.ent_matrix_bc, pipe.rel_dict_bc)
    return out


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)) if os.path.isdir(d) else 0


WORKLOADS = {"kg_incremental": KgIncremental, "near_dup": NearDup}
