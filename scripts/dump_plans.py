"""Regenerate PLANS.md: formatted physical plans of the headline
queries plus the scale-note sections. Run after any plan-shape change
so the recorded plans can't drift from the code.

Usage: python scripts/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

SF = "/root/testdata/sf0.001"

HEADER = """# PLANS — formatted physical plans of the headline queries
Generated by scripts/dump_plans.py (re-run after plan changes).
Things to check per plan: `PushedFilters`/pruned `ReadSchema` on scans,
`BroadcastHashJoin` (never SortMergeJoin) against dims,
`WholeStageCodegen` spans around the relational skeleton,
`ArrowEvalPython`/`MapInPandas` only where a UDF is semantically
required, and no `Exchange SinglePartition` that funnels ROW DATA
(the only acceptable ones are the final merge of a global scalar
aggregate — one partial row per upstream partition, e.g. the
count(DISTINCT alias_id) feeding the synthetic KG edge formula — and
driver-side test scaffolding like `.limit()`).
"""

SCALE_NOTES = """
## prune_to_entities / dense-id assignment (no global window)

`operators/ids.dense_ids` assigns every contiguous id in the engine
(alias_id, profile eids, prune new_eid): range-repartition on the key,
per-partition local row numbers (`Window` PARTITIONED by
`spark_partition_id`), broadcast join of per-partition offsets — the
plans above show `Window [...], [_pid#...]` over
`Exchange hashpartitioning(_pid#..., N)`, never `SinglePartition`.

## materialize_triples (one pass, bucketed write)

```
scan pages (filtered to not-yet-done buckets) + _bucket tag
  -> observe(per-bucket page counts)           <- CollectMetrics, no extra scan
  -> triples_fused_local(group_cols=[_bucket]) <- the fused kernel's triple emitter (ONE MapInPandas)
  -> dropDuplicates(_bucket, subj, pred, obj)  <- per-bucket dedup
  -> observe(per-bucket triple counts)         <- second CollectMetrics, same action
  -> write partitionBy(_bucket), dynamic partition overwrite
```

Total I/O per job: one input scan and one write, independent of
n_buckets, with no read-back aggregate; resume recomputes only buckets
missing from the manifest (tests/test_pipeline.py::
test_manifest_partial_resume). `snapshot_triples` then publishes the
store (read buckets → distinct → range-partition on subj → snapshot
commit) without linking again.
"""


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def main() -> None:
    from bootleg_spark.operators import dedup, similarity
    from bootleg_spark.plans.pipeline import KgPipeline
    from bootleg_spark.sources import synth

    import __spark_entry__ as entry
    from bootleg_spark.session import get_spark

    spark = get_spark(
        app_name="dump-plans", cores=4, extra_conf={"spark.sql.shuffle.partitions": "4"}
    )
    pipe = KgPipeline(spark, SF)
    docs = synth.read_documents(spark, SF)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    sections = [
        ("full pipeline (pages → triples, neural, fused)", pipe.triples()),
        (
            "relational pipeline (word mentions → popularity → triples)",
            entry.queries()["triples_popularity"](spark, SF),
        ),
        ("mention extraction (ngram UDF)", entry.queries()["mentions_ngram"](spark, SF)),
        (
            "all-JVM mention matcher (relational, zero Python)",
            entry.queries()["mentions_relational"](spark, SF),
        ),
        (
            "JVM ①–② + link_neural scorer (linked_relational)",
            entry.queries()["linked_relational"](spark, SF),
        ),
        (
            "sequence packing (per-bucket window cumsum)",
            entry.queries()["pack_spans"](spark, SF),
        ),
        ("ANN cosine top-k", similarity.cosine_topk_bruteforce(emb)),
        ("MinHash LSH pairs", dedup.minhash_lsh_pairs(docs)),
        (
            "two-stage near-dup (LSH → Jaccard verify, shared shingles)",
            dedup.minhash_verified_pairs(docs, threshold=0.2),
        ),
        ("PII scrub (codegen-only projection)", entry.queries()["pii_scrub"](spark, SF)),
        (
            "benchmark decontamination (broadcast eval shingles)",
            entry.queries()["ngram_contamination"](spark, SF),
        ),
        (
            "corpus curation (quality+lang in-scan, keeper window, decontam anti-join)",
            entry.queries()["corpus_select"](spark, SF),
        ),
        (
            "multi-word relational matcher (start-grain prefilter → window explode → dict join → greedy fold)",
            entry.queries()["mentions_relational_multi"](spark, SF),
        ),
        (
            "per-domain cap (one exchange + top-N window)",
            entry.queries()["domain_caps"](spark, SF),
        ),
        (
            "TF-IDF keywords (pair counts → df dim join → per-doc top-k)",
            entry.queries()["tfidf_terms"](spark, SF),
        ),
    ]
    out = [HEADER]
    for title, df in sections:
        out.append(f"\n## {title}\n\n```\n{plan_of(df)}\n```\n")
    out.append(SCALE_NOTES)
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
