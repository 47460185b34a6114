"""Heartbeat / uptime tier: an eighth mergeable summary family.

"Was this series alive during the window, and how badly was it
interrupted?" — the liveness question behind SLA and agent-health
queries (TimescaleDB's `heartbeat_agg` / uptime accessors — public
docs; no code consulted).  A point is a heartbeat; after each beat the
series counts as live for up to `hb_ms` (the declared beat interval).
A consecutive-beat gap Δ contributes min(Δ, hb_ms) of live time; a gap
longer than hb_ms is an interruption.

The per-bucket summary is exactly mergeable — the same seam-bridge
algebra as the time-weight tier (`operators/timeweight.py`), with
timestamps only:

    (n, first_ts, last_ts, live_ms, max_gap_ms, interruptions)

Merging two time-adjacent summaries adds one seam gap
Δ = first_ts_right − last_ts_left: live += min(Δ, hb), max_gap takes
it into the max, interruptions += (Δ > hb).  So the 1h→1d cascade
reproduces EXACTLY what a direct 1d build computes — every
consecutive-beat gap inside the coarse bucket is either inside one
fine bucket or is the seam between two order-adjacent fine buckets.

Convention (same as the TWA tier): a bucket's summary covers its
OBSERVED span [first_ts, last_ts] — no extrapolation past the last
beat, so the family stays exact and closed under merge.  Window-edge
extension (live tail into the next bucket) is a serve-time policy, not
a summary property.

Serve: uptime_ratio = live_ms / span, downtime_ms = span − live_ms,
plus max_gap and the interruption count.  A single-beat bucket has
zero span and serves ratio 1.0 (it beat; nothing observed contradicts
liveness).

Scale shape: identical to the TWA tier — one series-partitioned
`lead()` window + one groupBy whose partial aggregation reuses the
window's conv_id hash partitioning; cascade = the same two steps over
tier rows; refresh rebuilds only late-touched buckets from raw beats
(a late beat splits a gap, it doesn't add to a sum).  Whole-stage
codegen end to end.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .rollup import bucket_col, rebuild_touched

SUMMARY_COLS = ("n", "first_ts", "last_ts", "live_ms", "max_gap_ms",
                "interruptions")


def heartbeat_tier(beats: DataFrame, bucket_ms: int, hb_ms: int,
                   keys=("conv_id",)) -> DataFrame:
    """Build the fine-grain liveness tier from (keys, ts_ms) beats.
    Duplicate timestamps collapse to one beat (a gap of 0 adds nothing
    but would double-count n otherwise)."""
    pts = beats.select(*keys, F.col("ts_ms").cast("long").alias("ts_ms")) \
               .distinct()
    w = Window.partitionBy(*keys).orderBy("ts_ms")
    bkt = bucket_col(F.col("ts_ms"), bucket_ms)
    gap = F.lead("ts_ms").over(w) - F.col("ts_ms")
    in_bucket = bucket_col(F.lead("ts_ms").over(w), bucket_ms) == bkt
    # clip INSIDE the when: Spark's least() skips nulls, so
    # least(NULL, hb) would wrongly yield hb for gapless rows
    staged = pts.withColumn("gap", F.when(in_bucket, gap)) \
                .withColumn("live", F.when(in_bucket,
                                           F.least(gap, F.lit(hb_ms))))
    return (staged.groupBy(*keys, bkt.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("ts_ms").alias("first_ts"),
                 F.max("ts_ms").alias("last_ts"),
                 F.coalesce(F.sum("live"), F.lit(0)).alias("live_ms"),
                 F.coalesce(F.max("gap"), F.lit(0)).alias("max_gap_ms"),
                 F.count(F.when(F.col("gap") > hb_ms, 1))
                  .alias("interruptions")))


def cascade_heartbeat_tier(tier: DataFrame, from_ms: int, to_ms: int,
                           hb_ms: int, keys=("conv_id",)) -> DataFrame:
    """Merge a finer liveness tier into a coarser one — exact: sums and
    maxes plus one seam gap per pair of order-adjacent fine buckets
    sharing a coarse bucket."""
    assert to_ms % from_ms == 0, "coarser tier must align"
    w = Window.partitionBy(*keys).orderBy("bucket")
    coarse = bucket_col(F.col("bucket"), to_ms)
    seam_ok = bucket_col(F.lead("bucket").over(w), to_ms) == coarse
    seam = F.lead("first_ts").over(w) - F.col("last_ts")
    staged = (tier.withColumn("seam_gap", F.when(seam_ok, seam))
              .withColumn("seam_live",
                          F.when(seam_ok, F.least(seam, F.lit(hb_ms)))))
    return (staged.groupBy(*keys, coarse.alias("bucket"))
            .agg(F.sum("n").alias("n"),
                 F.min("first_ts").alias("first_ts"),
                 F.max("last_ts").alias("last_ts"),
                 (F.sum("live_ms")
                  + F.coalesce(F.sum("seam_live"), F.lit(0)))
                 .alias("live_ms"),
                 F.greatest(F.max("max_gap_ms"),
                            F.coalesce(F.max("seam_gap"), F.lit(0)))
                  .alias("max_gap_ms"),
                 (F.sum("interruptions")
                  + F.count(F.when(F.col("seam_gap") > hb_ms, 1)))
                  .alias("interruptions")))


def refresh_heartbeat_tier(tier: DataFrame, late_beats: DataFrame,
                           beats: DataFrame, bucket_ms: int, hb_ms: int,
                           keys=("conv_id",)) -> DataFrame:
    """Fold a late batch in at cost ∝ the buckets it touches: a late
    beat SPLITS an existing gap (possibly un-counting an interruption),
    so touched buckets are rebuilt from raw beats — the same
    invalidation rule as `refresh_twa_tier`."""
    return rebuild_touched(
        tier, late_beats, beats, bucket_ms, ("ts_ms",),
        lambda raw: heartbeat_tier(raw, bucket_ms, hb_ms, keys),
        SUMMARY_COLS, keys)


def heartbeat_interpolated_estimates(tier: DataFrame, bucket_ms: int,
                                     hb_ms: int,
                                     keys=("conv_id",)) -> DataFrame:
    """Serve uptime against the FULL bucket window (TimescaleDB's
    heartbeat_agg uptime shape — public docs): a beat keeps the series
    live for up to hb_ms, clipped to the bucket, so

    - head: the PREVIOUS bucket's last beat may spill live time into
      this bucket's start — max(0, min(prev_last_ts + hb, first_ts) −
      bucket_start), capped at first_ts so in-bucket live time is
      never double-counted;
    - tail: the last beat extends liveness min(hb, bucket_end −
      last_ts) — unconditionally: "alive for hb after a beat, then
      dead" is the family's own rule, no future row needed;
    - denominator: the full bucket when a previous tier row exists,
      else [first_ts, bucket_end) (nothing is known before the first
      beat ever seen).

    Pure lag over tier rows + row-local arithmetic, like
    `twa_interpolated_estimates`.
    """
    from pyspark.sql.window import Window
    w = Window.partitionBy(*keys).orderBy("bucket")
    start = F.col("bucket")
    end = F.col("bucket") + F.lit(bucket_ms)
    prev_last = F.lag("last_ts").over(w)
    head = F.when(
        prev_last.isNotNull(),
        F.greatest(F.lit(0),
                   F.least(prev_last + hb_ms, F.col("first_ts")) - start)) \
        .otherwise(F.lit(0))
    tail = F.least(F.lit(hb_ms), end - F.col("last_ts"))
    lo = F.when(prev_last.isNotNull(), start).otherwise(F.col("first_ts"))
    span = (end - lo).cast("double")
    live = F.col("live_ms") + head + tail
    return (tier
            .withColumn("window_ms", (end - lo).cast("long"))
            .withColumn("live_interp_ms", live.cast("long"))
            .withColumn("uptime_interp", live / span)
            .withColumn("downtime_interp_ms", (span - live).cast("long")))


def heartbeat_estimates(tier: DataFrame) -> DataFrame:
    """Serve: uptime ratio, downtime, worst gap, interruption count per
    tier row.  Zero-span buckets (one beat) serve ratio 1.0."""
    span = (F.col("last_ts") - F.col("first_ts")).cast("double")
    return (tier
            .withColumn("span_ms", span.cast("long"))
            .withColumn("uptime_ratio",
                        F.when(span > 0, F.col("live_ms") / span)
                         .otherwise(F.lit(1.0)))
            .withColumn("downtime_ms",
                        (span - F.col("live_ms")).cast("long")))
