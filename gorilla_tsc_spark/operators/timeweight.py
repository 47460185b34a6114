"""Time-weighted average tier: a seventh mergeable summary family.

Plain `avg(v)` over a bucket is wrong when samples are irregular — a
conversation that emits one turn per second for a minute and then one
turn an hour later should not weight the straggler equally.  The fix is
the classic time-weighted mean under last-observation-carried-forward
(LOCF) semantics (TimescaleDB's `time_weight('LOCF', ts, v)`,
`TimeWeightSummary` in timescale/timescaledb-toolkit — public docs; no
code consulted): integrate the step function the points trace, divide
by the observed duration.

The per-bucket summary is mergeable EXACTLY, which is what lets it live
the same tier lifecycle as the other six families:

    (n, first_ts, first_v, last_ts, last_v, wsum)

where `wsum` = Σ v_i · (ts_{i+1} − ts_i) over consecutive in-bucket
point pairs.  Merging two time-adjacent summaries (fine buckets into a
coarse one) is sums plus one LOCF *bridge* term per seam —
`last_v_left · (first_ts_right − last_ts_left)` — so the cascade
re-derives exactly what a direct build at the coarse grain computes:
every consecutive point pair inside the coarse bucket is either inside
one fine bucket (counted in its `wsum`) or spans the seam between two
order-adjacent fine buckets (counted by that seam's bridge).

Serve: `twa = wsum / (last_ts − first_ts)`; a single-point or
zero-duration bucket serves its value (the step function is constant).

Scale shape: build = one `lead()` window partitioned by series (a
series' points are bounded — one conversation) + one groupBy with
map-side partial aggregation; cascade = the same two steps over tier
rows (tiny input); refresh rebuilds ONLY late-touched buckets from raw
points (semi-join route, cost ∝ affected data — the continuous-
aggregate invalidation rule, `rollup.rebuild_touched`).  All whole-stage
codegen; no Python on the data path.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .rollup import bucket_col, rebuild_touched

SUMMARY_COLS = ("n", "first_ts", "first_v", "last_ts", "last_v", "wsum")


def twa_tier(points: DataFrame, bucket_ms: int, value_col: str = "v",
             keys=("conv_id",)) -> DataFrame:
    """Build the fine-grain time-weight tier from (ts_ms, v) points.

    Ties on ts_ms are broken by value so the step function (and hence
    first/last/wsum) is deterministic regardless of input order.
    """
    v = F.col(value_col).cast("double")
    pts = (points.where(v.isNotNull())
           .select(*keys, F.col("ts_ms").cast("long").alias("ts_ms"),
                   v.alias("v")))
    w = Window.partitionBy(*keys).orderBy("ts_ms", "v")
    bkt = bucket_col(F.col("ts_ms"), bucket_ms)
    next_ts = F.lead("ts_ms").over(w)
    in_bucket = bucket_col(next_ts, bucket_ms) == bkt
    staged = pts.withColumn(
        "contrib",
        F.when(in_bucket, F.col("v") * (next_ts - F.col("ts_ms")))
         .otherwise(F.lit(0.0)))
    order = F.struct("ts_ms", "v")
    return (staged.groupBy(*keys, bkt.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("ts_ms").alias("first_ts"),
                 F.min_by("v", order).alias("first_v"),
                 F.max("ts_ms").alias("last_ts"),
                 F.max_by("v", order).alias("last_v"),
                 F.sum("contrib").alias("wsum")))


def cascade_twa_tier(tier: DataFrame, from_ms: int, to_ms: int,
                     keys=("conv_id",)) -> DataFrame:
    """Merge a finer time-weight tier into a coarser one — exact: sums
    plus one LOCF bridge per seam between order-adjacent fine buckets
    that share a coarse bucket."""
    assert to_ms % from_ms == 0, "coarser tier must align"
    w = Window.partitionBy(*keys).orderBy("bucket")
    coarse = bucket_col(F.col("bucket"), to_ms)
    next_first_ts = F.lead("first_ts").over(w)
    seam = bucket_col(F.lead("bucket").over(w), to_ms) == coarse
    staged = tier.withColumn(
        "bridge",
        F.when(seam, F.col("last_v") * (next_first_ts - F.col("last_ts")))
         .otherwise(F.lit(0.0)))
    return (staged.groupBy(*keys, coarse.alias("bucket"))
            .agg(F.sum("n").alias("n"),
                 F.min("first_ts").alias("first_ts"),
                 F.min_by("first_v", "bucket").alias("first_v"),
                 F.max("last_ts").alias("last_ts"),
                 F.max_by("last_v", "bucket").alias("last_v"),
                 (F.sum("wsum") + F.sum("bridge")).alias("wsum")))


def refresh_twa_tier(tier: DataFrame, late_points: DataFrame,
                     points: DataFrame, bucket_ms: int,
                     value_col: str = "v", keys=("conv_id",)) -> DataFrame:
    """Fold a late batch in at cost ∝ the buckets it touches.

    Unlike the pure-sum families, a late point INTERLEAVES with a
    bucket's existing step function (it splits a LOCF segment), so
    touched buckets are rebuilt from raw points — the continuous-
    aggregate invalidation rule.  `points` is the raw on-time point set
    (in production: the block-store read for the affected range, which
    prunes untouched blocks); only rows semi-joined to a late-touched
    (series, bucket) are scanned past the filter.
    """
    return rebuild_touched(
        tier, late_points, points, bucket_ms, ("ts_ms", value_col),
        lambda raw: twa_tier(raw, bucket_ms, value_col, keys),
        SUMMARY_COLS, keys)


def twa_interpolated_estimates(tier: DataFrame, bucket_ms: int,
                               keys=("conv_id",)) -> DataFrame:
    """Serve the TWA with LOCF extension across bucket edges
    (TimescaleDB's `interpolated_average` idea — public docs): a bucket
    whose series was already live keeps the PREVIOUS bucket's last
    value from its own start until its first in-bucket point, and holds
    its last value to its end while the series demonstrably continues
    (a later tier row exists).  Edges without a neighbor fall back to
    the observed span, so an isolated bucket serves exactly its plain
    `twa_estimates` value.

    Pure lag/lead over tier rows + row-local arithmetic — no raw-point
    access, no Python, and the window key is the tier's own series key.
    """
    from pyspark.sql.window import Window
    w = Window.partitionBy(*keys).orderBy("bucket")
    start = F.col("bucket")
    end = F.col("bucket") + F.lit(bucket_ms)
    prev_last_v = F.lag("last_v").over(w)
    has_next = F.lead("bucket").over(w).isNotNull()
    head = F.when(prev_last_v.isNotNull(),
                  prev_last_v * (F.col("first_ts") - start)) \
            .otherwise(F.lit(0.0))
    tail = F.when(has_next,
                  F.col("last_v") * (end - F.col("last_ts"))) \
            .otherwise(F.lit(0.0))
    lo = F.when(prev_last_v.isNotNull(), start).otherwise(F.col("first_ts"))
    hi = F.when(has_next, end).otherwise(F.col("last_ts"))
    dur = (hi - lo).cast("double")
    return (tier
            .withColumn("covered_ms", (hi - lo).cast("long"))
            .withColumn("twa_interp",
                        F.when(dur > 0,
                               (F.col("wsum") + head + tail) / dur)
                         .otherwise(F.col("last_v"))))


def twa_estimates(tier: DataFrame) -> DataFrame:
    """Serve: the time-weighted average per tier row, plus the observed
    duration.  Zero-duration buckets (single point, or all points on
    one timestamp) serve the last value — the step function is constant
    there, so that IS its time-weighted mean."""
    dur = (F.col("last_ts") - F.col("first_ts")).cast("double")
    return (tier
            .withColumn("duration_ms", dur.cast("long"))
            .withColumn("twa",
                        F.when(dur > 0, F.col("wsum") / dur)
                         .otherwise(F.col("last_v"))))
