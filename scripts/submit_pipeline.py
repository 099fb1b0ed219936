"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (north_rule: spark-submit --py-files, multi-executor):

    zip -r bootleg_spark.zip bootleg_spark
    spark-submit \
      --master <cluster-master> \
      --deploy-mode cluster \
      --py-files bootleg_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --conf spark.sql.execution.arrow.pyspark.enabled=true \
      scripts/submit_pipeline.py <input_sf_dir> <out_dir> [n_buckets]

On a cluster, AQE should be ON (hours-long jobs amortize its driver
replanning; skew-join splitting handles head-entity pages) — see
bootleg_spark/session.py for why local runs default it off.

Links the corpus once: materialize_triples writes the bucket store
(<out_dir>/triples) and snapshot_triples publishes it as the graph table
(<out_dir>/graph_table). Resumable: re-running with the same <out_dir>
skips buckets already in the checkpoint manifest (_manifest.jsonl
carries per-bucket lineage + pages/sec) and publishes the next version.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bootleg_spark_out"
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    spark = SparkSession.builder.appName("bootleg-spark-kg").getOrCreate()
    from bootleg_spark.plans.pipeline import KgPipeline, materialize_triples, snapshot_triples

    pipe = KgPipeline(spark, sf_dir)
    records = materialize_triples(pipe, out_dir, n_buckets=n_buckets)
    done = sum(r["pages"] for r in records)
    print(f"materialized {len(records)} bucket(s), {done} pages -> {out_dir}")

    # publish the store as a committed version of the snapshot-manifest
    # graph table (the "partitioned Iceberg graph tables" end product;
    # old versions stay time-travelable) — no second linking pass
    snap = snapshot_triples(pipe, out_dir, f"{out_dir}/graph_table", n_buckets)
    print(f"published graph table v{snap['version']}: {snap['total_rows']} triples")
    spark.stop()


if __name__ == "__main__":
    main()
