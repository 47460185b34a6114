"""Continuous aggregates: 1m → 1h → 1d rollup tiers.

All tiers carry (cnt, vmin, vmax, vsum) — an associative summary — so
coarser tiers re-aggregate finer ones EXACTLY (sum/min/max recombine;
mean is derived as vsum/cnt at read time). This is what makes the
retention cascade's "rolled-up points exact-match" gate possible
(BASELINE.json north_rule).

Buckets are epoch-ms longs (floor division), not timestamps: integer
keys hash/compare identically across Spark, DuckDB and parquet, and
groupBy on a long is the cheapest possible shuffle key.

Scale notes: groupBy(conv_id, channel, bucket) does partial (map-side)
aggregation before the shuffle — at 10^12 turns the shuffle carries one
row per (series, bucket), not per point. The 1h/1d tiers re-aggregate
the 1m tier (tiny input), never the raw points.

Every block row carries its aggregates — batch, compacted and
stream-sealed alike — so the zero-decode day tier
(rollup_from_block_meta / rollup_from_day_subaggs) covers the whole
store.  It groups by (conv, channel, day), so the count sealer's chunks
of one day recombine like any other blocks.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MINUTE_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000

TIER_MS = {"1m": MINUTE_MS, "1h": HOUR_MS, "1d": DAY_MS}


def bucket_col(ts_ms_col, bucket_ms: int):
    return (F.floor(ts_ms_col / bucket_ms) * bucket_ms).cast("long")


def rollup_points(points: DataFrame, bucket_ms: int, value_col, keys=("conv_id", "channel")) -> DataFrame:
    """Aggregate raw/decoded points into one tier."""
    return (
        points.groupBy(*keys, bucket_col(F.col("ts_ms"), bucket_ms).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
            F.sum(value_col).alias("vsum"),
        )
    )


def cascade(tier: DataFrame, from_ms: int, to_ms: int, keys=("conv_id", "channel")) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one — exact, associative."""
    assert to_ms % from_ms == 0, "coarser tier must align"
    return (
        tier.groupBy(*keys, bucket_col(F.col("bucket"), to_ms).alias("bucket"))
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
        )
    )


def with_mean(tier: DataFrame) -> DataFrame:
    return tier.withColumn("vmean", F.col("vsum") / F.col("cnt"))


def rollup_from_day_subaggs(blocks: DataFrame) -> DataFrame:
    """Day tier from the per-day sub-aggregate arrays on block rows —
    zero decode, valid for ANY span (the archival span='auto' profile's
    day-tier path: multi-day blocks carry one array entry per UTC day
    touched, written by the encode kernels)."""
    z = blocks.select(
        "conv_id", "channel",
        F.explode(F.arrays_zip(
            # day-aligned blocks carry NULL day_* arrays (their one
            # entry would duplicate block_start/agg_*) — coalesce to
            # the scalar aggregates so one reader serves both spans
            F.coalesce("day_buckets", F.array("block_start"))
             .alias("day_buckets"),
            F.coalesce("day_cnt", F.array("agg_cnt")).alias("day_cnt"),
            F.coalesce("day_min", F.array("agg_min")).alias("day_min"),
            F.coalesce("day_max", F.array("agg_max")).alias("day_max"),
            F.coalesce("day_sum", F.array("agg_sum")).alias("day_sum"),
        )).alias("z"))
    return (
        z.groupBy("conv_id", "channel", F.col("z.day_buckets").alias("bucket"))
        .agg(
            F.sum("z.day_cnt").alias("cnt"),
            F.min("z.day_min").alias("vmin"),
            F.max("z.day_max").alias("vmax"),
            F.sum("z.day_sum").alias("vsum"),
        )
    )


def rollup_from_block_meta(blocks: DataFrame) -> DataFrame:
    """Day-tier aggregates straight from block metadata — zero decode.

    Valid because blocks are aligned to UTC days (operators/encode.py):
    per (conv, channel, day) the block pre-aggregates recombine exactly.
    """
    return (
        blocks.groupBy("conv_id", "channel", F.col("block_start").alias("bucket"))
        .agg(
            F.sum("agg_cnt").alias("cnt"),
            F.min("agg_min").alias("vmin"),
            F.max("agg_max").alias("vmax"),
            F.sum("agg_sum").alias("vsum"),
        )
    )


def merge_tiers(existing: DataFrame, delta: DataFrame,
                keys=("conv_id", "channel")) -> DataFrame:
    """Combine two tier fragments exactly (associative summaries).

    Buckets present in only one side pass through; buckets present in
    both recombine (cnt/vsum add, vmin/vmax extremize). The shuffle is
    keyed (keys, bucket) on BOTH sides — when the existing tier is a
    table bucketed on the same key, only the (tiny) delta moves.
    """
    keys = list(keys) + ["bucket"]
    return (
        existing.select(*keys, "cnt", "vmin", "vmax", "vsum")
        .unionByName(delta.select(*keys, "cnt", "vmin", "vmax", "vsum"))
        .groupBy(*keys)
        .agg(F.sum("cnt").alias("cnt"),
             F.min("vmin").alias("vmin"),
             F.max("vmax").alias("vmax"),
             F.sum("vsum").alias("vsum"))
    )


def refresh_tier(tier: DataFrame, late_points: DataFrame, bucket_ms: int,
                 value_col=None, keys=("conv_id", "channel")) -> DataFrame:
    """Continuous-aggregate refresh for LATE data (TimescaleDB's
    incremental materialized-view maintenance, re-expressed): roll up
    ONLY the late points and merge the partial rows into the existing
    tier — never recompute the tier from raw history.

    Exact for (cnt, min, max, sum): these recombine associatively no
    matter how points were split between the original run and the late
    batch (the same property the 1m→1h→1d cascade relies on, so a
    refreshed 1m tier cascades to refreshed 1h/1d tiers for the
    affected buckets only).

    At 10^12 turns: the delta rollup shuffles one row per
    (series, touched bucket); with the tier table bucketed on the
    series key the merge co-locates, so refresh cost is proportional
    to the LATE data, not the tier.
    """
    value_col = value_col if value_col is not None else F.col("v")
    delta = rollup_points(late_points, bucket_ms, value_col, keys=keys)
    return merge_tiers(tier, delta, keys=keys)


def rebuild_touched(tier: DataFrame, late_points: DataFrame,
                    points: DataFrame, bucket_ms: int, cols, build,
                    summary_cols, keys) -> DataFrame:
    """Late-data refresh for the order-dependent families (time-weight,
    heartbeat, rate, state-duration, autocorrelation) — the
    continuous-aggregate INVALIDATION rule, held once here.

    A late point interleaves with its bucket's in-order walk (it splits
    a LOCF segment, a gap, a counter pair or an adjacency), so no
    delta-merge can fold it in.  Instead every (series, bucket) a late
    point touches is rebuilt by `build` from the raw on-time `points`
    plus the late ones, and every untouched tier row passes through.
    `points` is the raw on-time point set (in production: the
    block-store read for the affected range, which prunes untouched
    blocks); only rows semi-joined to a touched (series, bucket) reach
    `build`, so cost is ∝ the affected buckets, never the tier.
    `cols` are the point columns `build` reads beyond the series keys.
    """
    kb = list(keys) + ["bucket"]
    affected = (late_points
                .select(*keys, bucket_col(F.col("ts_ms"), bucket_ms)
                        .alias("bucket"))
                .distinct())
    raw_cols = list(keys) + list(cols)
    touched_raw = (points.select(*raw_cols)
                   .unionByName(late_points.select(*raw_cols))
                   .withColumn("__b", bucket_col(F.col("ts_ms"), bucket_ms))
                   .join(F.broadcast(affected.withColumnRenamed(
                       "bucket", "__b")), on=list(keys) + ["__b"],
                       how="leftsemi")
                   .drop("__b"))
    untouched = tier.join(F.broadcast(affected), on=kb, how="left_anti")
    out_cols = kb + list(summary_cols)
    return (untouched.select(*out_cols)
            .unionByName(build(touched_raw).select(*out_cols)))
