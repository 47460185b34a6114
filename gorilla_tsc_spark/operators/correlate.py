"""Cross-channel correlation tier: a sixth mergeable summary family.

Answers "how coupled are two channels of a conversation over time?"
(e.g. does turn length track token count, does tool usage track
latency) the same way every other tier here answers its question:
build a per-bucket ASSOCIATIVE summary once at the fine grain, then
cascade / late-refresh by summing — never revisiting raw data.

The summary is the classic sufficient-statistics six-tuple for a pair
of variables — (n, Σx, Σy, Σx², Σy², Σxy) — every component a plain
sum, so merges are exact (no sketch error) and the serve step derives
Pearson r, covariance, and the OLS slope/intercept algebraically:

    cov   = (Σxy − ΣxΣy/n) / n
    r     = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)

Numerical note: the centered-at-serve form is fine here because the
per-bucket point counts are bounded (a bucket holds one conversation's
turns in a window) and channel magnitudes are small; a warehouse-scale
global correlation over unbounded buckets would switch to a shifted
(subtract-first-value) accumulation — same contract, different build.

Scale shape: build = one groupBy keyed (series, bucket) with map-side
partial aggregation; cascade/refresh = sums over tier rows; serve =
row-local arithmetic.  Whole-stage codegen end to end, no Python.

Lifecycle parity with the other families (ARCHITECTURE.md "Tier
families"): build `corr_tier`, cascade `cascade_corr_tier`, late
refresh `refresh_corr_tier`, serve `corr_estimates`.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import bucket_col

STAT_COLS = ("n", "sx", "sy", "sxx", "syy", "sxy")


def _corr_aggs(x, y):
    """The six pair statistics over (x, y) — shared by `corr_tier` and
    its streaming twin, so the two are bit-equal by construction."""
    return [F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy")]


def _sum_stats(tier: DataFrame, keys, bucket) -> DataFrame:
    """Merge corr rows sharing (keys, bucket) — every statistic is a
    sum; the one rule behind both cascade and refresh."""
    return (tier.groupBy(*keys, bucket.alias("bucket"))
            .agg(*[F.sum(c).alias(c) for c in STAT_COLS]))


def corr_tier(points: DataFrame, bucket_ms: int,
              x_col: str = "x", y_col: str = "y",
              keys=("conv_id",)) -> DataFrame:
    """Build the fine-grain pair-statistics tier from (ts_ms, x, y)
    points.  Rows where either variable is null are excluded from the
    pair statistics (both values must exist for a paired observation).
    """
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    paired = points.where(x.isNotNull() & y.isNotNull())
    return (paired.groupBy(
        *keys, bucket_col(F.col("ts_ms"), bucket_ms).alias("bucket"))
        .agg(*_corr_aggs(x, y)))


def cascade_corr_tier(tier: DataFrame, from_ms: int, to_ms: int,
                      keys=("conv_id",)) -> DataFrame:
    """Re-aggregate a finer correlation tier into a coarser one —
    exact: every statistic is a sum."""
    assert to_ms % from_ms == 0, "coarser tier must align"
    return _sum_stats(tier, keys, bucket_col(F.col("bucket"), to_ms))


def refresh_corr_tier(tier: DataFrame, late_points: DataFrame,
                      bucket_ms: int, x_col: str = "x", y_col: str = "y",
                      keys=("conv_id",)) -> DataFrame:
    """Fold a late batch into an existing tier at cost ∝ the batch:
    build the delta tier from the late points alone, then sum-merge.
    Buckets touched by no late point pass through unchanged."""
    delta = corr_tier(late_points, bucket_ms, x_col, y_col, keys)
    cols = list(keys) + ["bucket"] + list(STAT_COLS)
    return _sum_stats(tier.select(*cols).unionByName(delta.select(*cols)),
                      keys, F.col("bucket"))


def corr_estimates(tier: DataFrame) -> DataFrame:
    """Serve: derive covariance, Pearson r, and the OLS fit of y on x
    per tier row.  Degenerate buckets (n < 2 or a zero-variance side)
    serve null r/slope rather than a division blow-up."""
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_x_n2 = n * sxx - sx * sx   # n² · var(x)
    var_y_n2 = n * syy - sy * sy
    cov_n2 = n * sxy - sx * sy
    ok = (n >= 2) & (var_x_n2 > 0)
    r = F.when(ok & (var_y_n2 > 0),
               cov_n2 / F.sqrt(var_x_n2 * var_y_n2))
    slope = F.when(ok, cov_n2 / var_x_n2)
    return (tier
            .withColumn("cov", F.when(n >= 1, cov_n2 / (n * n)))
            .withColumn("r", r)
            .withColumn("slope", slope)
            .withColumn("intercept",
                        F.when(ok, (sy - slope * sx) / n)))
