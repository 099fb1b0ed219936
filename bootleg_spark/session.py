"""SparkSession factory with scale-oriented defaults.

Centralizes the config we rely on everywhere:
- AQE off (its per-stage driver replanning dominates the short local
  jobs here; a cluster run turns it on through ``spark-submit --conf``);
- Arrow on (every Python-side stage in this repo is a pandas/Arrow UDF,
  never per-row Python);
- shuffle partitions sized to the local core count: 2 per core, with
  no floor (on a real cluster this would be ~2-3x total executor cores).
  Every exchange runs that many tasks however small its input is, and
  most exchanges here are small (dimension builds, per-batch dedup and
  commits, connected-components rounds), so each extra task is pure
  fixed cost: scheduling, a Python worker round trip per pandas-UDF
  task, and one more tiny file per snapshot-table commit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bootleg-spark",
    cores: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    Shuffle partitions are ``2 * cores``, with no floor: two waves of
    tasks per exchange absorb uneven task times, and every task beyond
    that is fixed cost on the small exchanges this pipeline is full of.
    A floor of 32 ran ~10 tasks per core on a 3-core session and cut
    incremental-crawl throughput by ~1.7x (BENCH.md "Shuffle width");
    ``extra_conf`` overrides it like any other conf. A running session
    under another master or app name raises ``ValueError``: Spark would
    silently hand it back with its own cores and name.

    On a real cluster the same code runs unchanged under
    ``spark-submit --py-files bootleg_spark.zip`` — only ``master`` and
    memory sizing move to submit-time config.

    AQE is off. Measured on this pipeline at sandbox scale, AQE's
    per-stage driver replanning loop adds ~10 s of SERIAL latency per
    query (14.3 s vs 4.8 s wall for the full pipeline at 32 cores) — it
    dominates second-long jobs and wrecks scaling ratios. On an
    hours-long 100 TB job the same fixed latency is noise and skew-join
    splitting + runtime coalescing pay for themselves: a spark-submit
    deployment sets the three ``spark.sql.adaptive.*`` configs below to
    true with ``--conf`` (DEPLOYMENT.md), and a local caller can pass
    them in ``extra_conf``.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cores = int(cores)
    master = f"local[{cores}]"
    running = SparkSession.getActiveSession()
    if running is not None:
        sc = running.sparkContext
        if (sc.master, sc.appName) != (master, app_name):
            raise ValueError(
                f"a Spark session is already running as {sc.master} {sc.appName!r}; "
                f"stop it before asking for {master} {app_name!r}"
            )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def fan_scan(df, key_cols: tuple = ()):
    """Scale-adaptive scan fan-out (optimization guide §2.5/§6.1).

    Parquet split planning is row-group-bound: a small input that is one
    file with one row group yields ONE scan partition no matter what
    ``maxPartitionBytes``/``minPartitionNum`` say, so every pre-exchange
    operator (per-row md5/regex work, Arrow UDF and map-in-pandas workers)
    runs on 1-2 of the session's cores. Measured at sf1.0: the
    zero-exchange ``doc_fingerprints`` plan spent 18 s on one core.

    Repartition to the session's default parallelism ONLY when the scan
    has fewer partitions than that; at production scale (thousands of
    files / row groups) the guard makes this a no-op, so nothing here is
    tuned to the local core count. The exchange this adds moves only the
    small input once (15 MB at sf1.0) and buys every downstream row
    operation full parallelism.

    ``key_cols`` (a stable high-cardinality id) selects HASH
    partitioning, which is projection-independent: a keyless round-robin
    repartition first sorts each input partition by the row's binary
    form (spark.sql.execution.sortBeforeRepartition), so two plans
    projecting different columns of the same scan see different row
    orders — and a ``limit(n)`` above the fan-out would sample different
    rows per plan. Hash-by-id also skips that pre-sort.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if key_cols:
            from pyspark.sql import functions as F

            return df.repartition(target, *[F.col(c) for c in key_cols])
        return df.repartition(target)
    return df
