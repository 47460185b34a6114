"""Counter rate/increase tier: a ninth mergeable summary family.

Monotone counters (bytes sent, tokens emitted, requests served) are the
other half of gauge telemetry: the question is never "what is the
value" but "how much did it GROW over this window", robust to the
counter wrapping or the process restarting back to zero.  The public
semantics are Prometheus's `increase()` / `rate()` / `resets()` and
TimescaleDB's `counter_agg` / `CounterSummary` (public docs; no code
consulted): walking consecutive samples, a non-decreasing step
contributes `v_next − v`, while a DROP means the counter reset and the
new sample's full value `v_next` is the growth since the reset.

The per-bucket summary is mergeable EXACTLY, so the family lives the
same tier lifecycle as the other eight:

    (n, first_ts, first_v, last_ts, last_v, increase, resets)

where `increase` = Σ reset-corrected deltas over consecutive in-bucket
pairs and `resets` counts the in-bucket drops.  Merging two
time-adjacent summaries (fine buckets into a coarse one) is sums plus
one *seam* pair per boundary — the pair (last_v_left, first_v_right)
is a consecutive sample pair of the coarse bucket that no fine bucket
counted, and it contributes its reset-corrected delta (and possibly one
reset) exactly like any in-bucket pair.  Every consecutive pair inside
the coarse bucket is thus counted exactly once: inside one fine bucket,
or at one seam.

Serve: `rate_per_s = increase · 1000 / (last_ts − first_ts)`; a
single-point or zero-duration bucket serves NULL (a rate needs an
interval — PromQL's ≥2-samples rule).  The interpolated serve
attributes each seam's growth to the LATER bucket (`increase_interp`,
`resets_interp`), so summing the interpolated column over a series'
tier rows reproduces the unbucketed whole-series increase — the
invariant `tests/test_rate.py` pins.

All arithmetic is sums/comparisons of integer-valued doubles and
integer ms — IEEE-exact in any order, which is what lets the driver
gate hash-match a DIRECT DuckDB build against the Spark CASCADE.

Relation to ``operators/counters.py``: that module's
``counter_increase`` / ``rate_per_sec`` are POINT-level transforms
(one output row per sample, no bucketing) for ad-hoc queries over
decoded points.  This module is the TIER family built on the same
pair semantics: per-bucket summaries that merge exactly, live in the
retention cascade, refresh incrementally on late data, and serve
without touching raw points — what a dashboard actually reads.

Scale shape: identical to `timeweight.py` — build = one `lead()`
window partitioned by series + one groupBy with map-side partial
aggregation (the groupBy keys extend the window key, so Spark reuses
the window's hash partitioning: zero extra exchange); cascade = the
same two steps over tier rows (tiny input); refresh rebuilds ONLY
late-touched buckets from raw points (broadcast semi-join route, cost
∝ affected data).  Whole-stage codegen; no Python on the data path.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .rollup import bucket_col, rebuild_touched

SUMMARY_COLS = ("n", "first_ts", "first_v", "last_ts", "last_v",
                "increase", "resets")


def _pair_delta(v, next_v):
    """Reset-corrected growth of one consecutive sample pair: the
    counter either kept climbing (plain difference) or reset, in which
    case everything up to the new sample is growth since the restart."""
    return F.when(next_v >= v, next_v - v).otherwise(next_v)


def rate_tier(points: DataFrame, bucket_ms: int, value_col: str = "v",
              keys=("conv_id",)) -> DataFrame:
    """Build the fine-grain counter tier from (ts_ms, v) points.

    Ties on ts_ms are broken by value so the pair walk (and hence
    first/last/increase/resets) is deterministic regardless of input
    order — the same total order every family in this repo uses.
    """
    v = F.col(value_col).cast("double")
    pts = (points.where(v.isNotNull())
           .select(*keys, F.col("ts_ms").cast("long").alias("ts_ms"),
                   v.alias("v")))
    w = Window.partitionBy(*keys).orderBy("ts_ms", "v")
    bkt = bucket_col(F.col("ts_ms"), bucket_ms)
    next_ts = F.lead("ts_ms").over(w)
    next_v = F.lead("v").over(w)
    in_bucket = bucket_col(next_ts, bucket_ms) == bkt
    staged = (pts
              .withColumn("contrib",
                          F.when(in_bucket,
                                 _pair_delta(F.col("v"), next_v))
                           .otherwise(F.lit(0.0)))
              .withColumn("reset",
                          F.when(in_bucket & (next_v < F.col("v")),
                                 F.lit(1)).otherwise(F.lit(0))))
    order = F.struct("ts_ms", "v")
    return (staged.groupBy(*keys, bkt.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("ts_ms").alias("first_ts"),
                 F.min_by("v", order).alias("first_v"),
                 F.max("ts_ms").alias("last_ts"),
                 F.max_by("v", order).alias("last_v"),
                 F.sum("contrib").alias("increase"),
                 F.sum("reset").cast("long").alias("resets")))


def cascade_rate_tier(tier: DataFrame, from_ms: int, to_ms: int,
                      keys=("conv_id",)) -> DataFrame:
    """Merge a finer counter tier into a coarser one — exact: sums plus
    one seam pair per boundary between order-adjacent fine buckets that
    share a coarse bucket (the pair no fine bucket counted)."""
    assert to_ms % from_ms == 0, "coarser tier must align"
    w = Window.partitionBy(*keys).orderBy("bucket")
    coarse = bucket_col(F.col("bucket"), to_ms)
    next_first_v = F.lead("first_v").over(w)
    seam = bucket_col(F.lead("bucket").over(w), to_ms) == coarse
    staged = (tier
              .withColumn("bridge",
                          F.when(seam,
                                 _pair_delta(F.col("last_v"), next_first_v))
                           .otherwise(F.lit(0.0)))
              .withColumn("bridge_reset",
                          F.when(seam & (next_first_v < F.col("last_v")),
                                 F.lit(1)).otherwise(F.lit(0))))
    return (staged.groupBy(*keys, coarse.alias("bucket"))
            .agg(F.sum("n").alias("n"),
                 F.min("first_ts").alias("first_ts"),
                 F.min_by("first_v", "bucket").alias("first_v"),
                 F.max("last_ts").alias("last_ts"),
                 F.max_by("last_v", "bucket").alias("last_v"),
                 (F.sum("increase") + F.sum("bridge")).alias("increase"),
                 (F.sum("resets") + F.sum("bridge_reset"))
                 .cast("long").alias("resets")))


def refresh_rate_tier(tier: DataFrame, late_points: DataFrame,
                      points: DataFrame, bucket_ms: int,
                      value_col: str = "v", keys=("conv_id",)) -> DataFrame:
    """Fold a late batch in at cost ∝ the buckets it touches.

    A late sample INTERLEAVES with a bucket's existing pair walk (it
    splits one consecutive pair into two, and can flip a reset), so
    touched buckets are rebuilt from raw points — the continuous-
    aggregate invalidation rule, identical to `refresh_twa_tier`.
    `points` is the raw on-time point set (in production: the
    block-store read for the affected range, which prunes untouched
    blocks); only rows semi-joined to a late-touched (series, bucket)
    are scanned past the filter.
    """
    return rebuild_touched(
        tier, late_points, points, bucket_ms, ("ts_ms", value_col),
        lambda raw: rate_tier(raw, bucket_ms, value_col, keys),
        SUMMARY_COLS, keys)


def rate_interpolated_estimates(tier: DataFrame,
                                keys=("conv_id",)) -> DataFrame:
    """Serve the seam-inclusive increase: each boundary pair between a
    tier row and its predecessor (PromQL's "jump into the window") is
    attributed to the LATER bucket, so Σ increase_interp over a series'
    tier rows ≡ the unbucketed whole-series increase — no growth is
    dropped at bucket edges and none is double-counted.

    Pure lag over tier rows + row-local arithmetic — no raw-point
    access, no Python, and the window key is the tier's own series key.
    """
    w = Window.partitionBy(*keys).orderBy("bucket")
    prev_last_v = F.lag("last_v").over(w)
    head = F.when(prev_last_v.isNotNull(),
                  _pair_delta(prev_last_v, F.col("first_v"))) \
            .otherwise(F.lit(0.0))
    head_reset = F.when(prev_last_v.isNotNull()
                        & (F.col("first_v") < prev_last_v),
                        F.lit(1)).otherwise(F.lit(0))
    return (tier
            .withColumn("increase_interp", F.col("increase") + head)
            .withColumn("resets_interp",
                        (F.col("resets") + head_reset).cast("long")))


def rate_estimates(tier: DataFrame) -> DataFrame:
    """Serve: the per-second rate per tier row, plus the observed
    duration.  Zero-duration buckets (single point, or all points on
    one timestamp) serve NULL — a rate needs an interval (PromQL's
    ≥2-samples rule); their `increase` is still well-defined (0)."""
    dur = (F.col("last_ts") - F.col("first_ts")).cast("double")
    return (tier
            .withColumn("duration_ms", dur.cast("long"))
            .withColumn("rate_per_s",
                        F.when(dur > 0,
                               F.col("increase") * F.lit(1000.0) / dur)))
