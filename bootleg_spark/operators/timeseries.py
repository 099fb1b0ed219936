"""Temporal operators Spark lacks as built-ins, re-expressed in the
shapes that survive 100 TB: as-of join, interval (range) join, and
multi-grain rollup.

Engine extensions (no reference counterpart — the reference emits a KG
and stops; these are the event/time-series access patterns a crawl
pipeline's telemetry and freshness analysis need):

- :func:`asof_join` — each left row matched to the LATEST right row at
  or before its timestamp, per key. The naive formulation is an
  inequality join (quadratic blow-up per key); the scalable form here
  is the union-merge: tag both sides, one shuffle on the key, one
  ordered window pass carrying the last right payload forward. Cost is
  exactly one sort-shuffle of |L|+|R| rows — no range explosion, no
  per-key quadratics, independent of time distribution.
- :func:`interval_join` — points matched into [start, end] intervals.
  Equi-joinable only after discretization: intervals explode to the
  fixed-width time buckets they cover, points map to their single
  bucket, and the bucket equi-join + exact containment filter replaces
  the cross product. Amplification = interval length / bucket width
  (caller-tuned); skew = dense buckets, which AQE splits since both
  sides arrive through a shuffle.
- :func:`rollup_time_grains` — hour/day/week aggregates in ONE scan via
  GROUPING SETS (Catalyst's Expand operator duplicates rows per grain
  inside the exchange, so partial aggregation still applies map-side)
  instead of one scan per grain — at 100 TB the difference between one
  pass and three.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """For every ``left`` row, attach the ``right`` row with the
    largest ``right_ts`` ≤ ``left_ts`` within the same ``keys`` (the
    classic as-of join: price at trade time, last config before an
    event, latest crawl snapshot before an annotation). Left rows with
    no prior right row keep nulls — LEFT OUTER semantics. The right
    row's non-key columns come back prefixed ``r_``.

    Union-merge construction: right rows get side=0, left rows side=1;
    one window over (keys) ordered by (ts, side, tiebreak) carries the
    most recent right payload forward with ``last(ignorenulls=True)``;
    the result keeps only left rows. Ordering right before left at
    equal timestamps gives the ≤ (not <) match, and the tiebreak makes
    the carried row deterministic when several right rows share a
    timestamp (the max-tiebreak row wins, matching the oracle's
    ``max_by``). One shuffle of |L|+|R|; nothing quadratic."""
    r_payload = [c for c in right.columns if c not in keys]
    tagged_r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in r_payload]).alias("__r"),
        F.lit(None).cast(
            left.select(
                F.struct(*[F.col(c) for c in left.columns]).alias("s")
            ).schema["s"].dataType
        ).alias("__l"),
    )
    tagged_l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(tagged_r.schema["__r"].dataType).alias("__r"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
    )
    # deterministic carry under duplicate right timestamps: order right
    # rows so the LAST one at a timestamp is the max of its payload
    # struct (struct comparison = lexicographic over fields)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts"), F.col("__side"), F.col("__r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        tagged_r.unionByName(tagged_l)
        .withColumn("__match", F.last("__r", ignorenulls=True).over(w))
        .where(F.col("__side") == 1)
    )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    out_cols += [F.col(f"__match.{c}").alias(f"r_{c}") for c in r_payload]
    return merged.select(*out_cols)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    keys: list[str] | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """All (point, interval) pairs with ``start <= point_ts <= end``
    (and equal ``keys``, if given) — the range join Spark would
    otherwise plan as a broadcast-nested-loop. Timestamps are epoch
    seconds (cast upstream).

    Bucketed equi-join: each interval explodes to the
    ``bucket_seconds``-wide buckets it covers (``F.sequence`` — row
    amplification = ceil(len/width), the caller's knob), each point
    maps to exactly one bucket, and the equi-join on (keys, bucket)
    followed by the exact containment predicate yields each matching
    pair exactly once (a point's single bucket intersects a covering
    interval's bucket range exactly once — no dedup step needed)."""
    keys = keys or []
    b = F.lit(int(bucket_seconds))
    pts = points.withColumn("__b", (F.col(point_ts) / b).cast("long"))
    ivs = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                (F.col(start_col) / b).cast("long"),
                (F.col(end_col) / b).cast("long"),
            )
        ),
    )
    return (
        pts.join(ivs, [*keys, "__b"])
        .where(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("__b")
    )


def rollup_time_grains(events: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """(grain, bucket_start_epoch, *group_cols, n_events, total_value):
    the hypertable continuous-aggregate pattern — the hour and day grains
    computed in ONE scan with GROUPING SETS. Catalyst plans this as an
    Expand (each input row duplicated once per grain) feeding a single
    hash aggregate, so map-side partial aggregation still collapses
    rows before the exchange; n grains cost one shuffle, not n scans.
    ``total_value`` is rounded to 6 to pin float-sum determinism."""
    group_cols = group_cols or []
    grains = ("hour", "day")
    base = events.select(
        *[F.date_trunc(g, F.col("ts")).alias(f"__t_{g}") for g in grains],
        *group_cols,
        F.col("value").alias("__v"),
    )
    sets = ", ".join(
        "(" + ", ".join([f"__t_{g}", *group_cols]) + ")" for g in grains
    )
    base.createOrReplaceTempView("__rollup_in")
    # GROUPING() (not IS NOT NULL) identifies the active set — exact
    # even if a truncated timestamp were itself null
    grain_expr = "CASE " + " ".join(
        f"WHEN GROUPING(__t_{g}) = 0 THEN '{g}'" for g in grains
    ) + " END"
    bucket_expr = "COALESCE(" + ", ".join(
        f"unix_timestamp(__t_{g})" for g in grains
    ) + ")"
    gcols = (", " + ", ".join(group_cols)) if group_cols else ""
    return base.sparkSession.sql(
        f"""
        SELECT {grain_expr} AS grain,
               CAST({bucket_expr} AS LONG) AS bucket_epoch
               {gcols},
               CAST(count(*) AS LONG) AS n_events,
               round(sum(__v), 6) AS total_value
        FROM __rollup_in
        GROUP BY GROUPING SETS ({sets})
        """
    )
