"""Linear-trend tier: a fifteenth mergeable summary family.

The question this family serves is "which way is this series HEADING
inside each bucket, and how linearly?" — the per-bucket ordinary
least-squares fit of value against time (TimescaleDB's 2-D
``stats_agg`` → ``slope``/``intercept``/``corr``, PromQL's ``deriv``;
public docs only).  Where the autocorrelation family measures
smoothness (adjacent-sample coupling) and the counter-rate family
measures monotone growth, the trend family measures DRIFT of a gauge:
a conversation whose turn lengths trend up, a latency channel drifting
toward a limit, a queue depth regressing toward zero.

The per-bucket summary is the classic 2-D sufficient-statistics tuple

    (n, first_ts, last_ts, sx, sv, sxx, svv, sxv)

with one twist that makes the whole lifecycle EXACT in IEEE doubles:
the regressor x is not the raw epoch-ms timestamp (whose squares
overflow 2^53 and poison Σx²) but the point's integer MINUTE OFFSET
WITHIN ITS OWN BUCKET — ``x = floor((ts_ms % bucket_ms) / 60000)``.
That keeps every sum small (x < 1440 even at day grain, Σx² < 2^53 by
orders of magnitude), so sx/sxx are plain int64 sums and sv/svv/sxv
are sums of integer-valued doubles — bit-exact in any merge order,
which is what lets the driver gate hash-match a DIRECT DuckDB 1d
build against the Spark 1h→1d cascade with no rounding on the sums.

Because x is bucket-relative, merging a finer tier into a coarser one
is NOT a plain column sum: each fine bucket's x-origin shifts by
``off = (fine_bucket − coarse_bucket) / 60000`` minutes (an exact
integer — both bucket starts are multiples of a minute).  The shift
algebra is closed over the carried sums and stays all-integer:

    Σ(x+off)       = Σx  + n·off
    Σ(x+off)·v     = Σxv + off·Σv
    Σ(x+off)²      = Σx² + 2·off·Σx + n·off²

so the cascade is one staged projection plus one groupBy — the same
cost shape as every other family's cascade, and still exact.  Merging
two summaries of the SAME bucket (the late-refresh case) has off = 0
on both sides, so refresh is a pure delta-merge like hist/candle:
build the late batch's tier alone, union, sum — never a rebuild, cost
∝ the late batch.  ``merge_trend_series`` (fleet-wide trend per
bucket) is the same off = 0 merge across series.

Serve derives, per tier row, from the staged intermediates

    covn2 = n·Σxv − Σx·Σv          (n² · covariance(x, v))
    den   = n·Σx² − (Σx)²          (n² · variance(x))
    denv  = n·Σv² − (Σv)²          (n² · variance(v))

the OLS slope (value units per MINUTE — multiply by 60 for per-hour),
the intercept (fitted value at the bucket start), and r² (fit
quality); all NULL when n < 2 or every point shares a minute
(den = 0), r² additionally NULL for constant values (denv = 0).

Scale shape: build = one groupBy keyed (series, bucket) with map-side
partial aggregation — at 10^12 turns the shuffle carries one row per
(series, bucket), not per point; cascade/refresh/merge touch tier
rows only; serve is row-local arithmetic.  Whole-stage codegen end to
end, no Python, no window function anywhere in the family.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import MINUTE_MS, bucket_col

SUMMARY_COLS = ("n", "first_ts", "last_ts", "sx", "sv", "sxx", "svv",
                "sxv")


def _x_expr(ts, bucket_ms: int):
    # integer minute offset within the point's own bucket; epoch-ms
    # timestamps are non-negative so % is the in-bucket offset
    return F.floor((ts % F.lit(bucket_ms)) / MINUTE_MS).cast("long")


def _trend_aggs(xc, vc):
    """The family's eight aggregate columns over an in-bucket minute
    offset ``xc`` and a double value ``vc`` — shared by the batch
    build and the streaming twin (all order-insensitive sums)."""
    return [F.count(F.lit(1)).alias("n"),
            F.min("ts_ms").alias("first_ts"),
            F.max("ts_ms").alias("last_ts"),
            F.sum(xc).alias("sx"),
            F.sum(vc).alias("sv"),
            F.sum(xc * xc).alias("sxx"),
            F.sum(vc * vc).alias("svv"),
            F.sum(xc * vc).alias("sxv")]


def trend_tier(points: DataFrame, bucket_ms: int, value_col: str = "v",
               keys=("conv_id",)) -> DataFrame:
    """Build the fine-grain trend tier from (ts_ms, v) points.

    ``bucket_ms`` must be a whole number of minutes so the
    bucket-relative minute offsets shift exactly across grains."""
    assert bucket_ms % MINUTE_MS == 0, "grain must align to minutes"
    v = F.col(value_col).cast("double")
    ts = F.col("ts_ms").cast("long")
    x = _x_expr(ts, bucket_ms)
    pts = (points.where(v.isNotNull())
           .select(*keys, ts.alias("ts_ms"), x.alias("x"), v.alias("v")))
    return (pts.groupBy(
        *keys, bucket_col(F.col("ts_ms"), bucket_ms).alias("bucket"))
        .agg(*_trend_aggs(F.col("x"), F.col("v"))))


def _sum_merge(tiers: DataFrame, keys) -> DataFrame:
    """Merge summaries of the SAME bucket (x-origins equal → off = 0):
    element-wise sums, first/last ts min/max."""
    return (tiers.groupBy(*keys, "bucket")
            .agg(F.sum("n").alias("n"),
                 F.min("first_ts").alias("first_ts"),
                 F.max("last_ts").alias("last_ts"),
                 F.sum("sx").alias("sx"),
                 F.sum("sv").alias("sv"),
                 F.sum("sxx").alias("sxx"),
                 F.sum("svv").alias("svv"),
                 F.sum("sxv").alias("sxv")))


def cascade_trend_tier(tier: DataFrame, from_ms: int, to_ms: int,
                       keys=("conv_id",)) -> DataFrame:
    """Merge a finer trend tier into a coarser one — exact: each fine
    bucket's x-sums shift to the coarse bucket's minute origin (all
    integer arithmetic), then everything is a plain sum."""
    assert to_ms % from_ms == 0, "coarser tier must align"
    assert from_ms % MINUTE_MS == 0, "grain must align to minutes"
    coarse = bucket_col(F.col("bucket"), to_ms)
    off = ((F.col("bucket") - coarse) / MINUTE_MS).cast("long")
    n, sx, sv, sxv = F.col("n"), F.col("sx"), F.col("sv"), F.col("sxv")
    shifted = (tier
               .withColumn("off", off)
               .select(*keys, coarse.alias("bucket"), "n",
                       "first_ts", "last_ts",
                       (sx + n * F.col("off")).alias("sx"),
                       "sv",
                       (F.col("sxx") + 2 * F.col("off") * sx
                        + n * F.col("off") * F.col("off")).alias("sxx"),
                       "svv",
                       (sxv + F.col("off").cast("double") * sv)
                       .alias("sxv")))
    return _sum_merge(shifted, keys)


def refresh_trend_tier(tier: DataFrame, late_points: DataFrame,
                       bucket_ms: int, value_col: str = "v",
                       keys=("conv_id",)) -> DataFrame:
    """Fold a late batch into an existing tier at cost ∝ the batch:
    the family is distributive (same-bucket summaries share an
    x-origin), so build the delta tier from the late points alone and
    sum-merge — buckets no late point touches pass through unchanged,
    never a rebuild."""
    delta = trend_tier(late_points, bucket_ms, value_col, keys)
    cols = list(keys) + ["bucket"] + list(SUMMARY_COLS)
    return _sum_merge(
        tier.select(*cols).unionByName(delta.select(*cols)), keys)


def merge_trend_series(tier: DataFrame) -> DataFrame:
    """Fleet-wide trend: merge every series' summary of each bucket
    (same bucket → same x-origin → plain sums).  The served slope is
    then the pooled regression over all series' points at once."""
    return _sum_merge(tier, keys=())


def trend_estimates(tier: DataFrame) -> DataFrame:
    """Serve: per-row OLS fit of value on in-bucket minute offset.

    ``tslope`` is value units per MINUTE (the bucket-local ``deriv``),
    ``tintercept`` the fitted value at the bucket start, ``tr2`` the
    coefficient of determination.  The intermediates (covn2/den/denv)
    are staged as columns so a SQL oracle can mirror the arithmetic
    token for token (the cross-engine hash-match discipline)."""
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    staged = (tier
              .withColumn("covn2", nd * F.col("sxv") - sxd * F.col("sv"))
              .withColumn("den", nd * F.col("sxx").cast("double")
                          - sxd * sxd)
              .withColumn("denv", nd * F.col("svv")
                          - F.col("sv") * F.col("sv")))
    ok = (F.col("n") >= 2) & (F.col("den") > 0)
    slope = F.col("covn2") / F.col("den")
    return (staged
            .withColumn("tmean", F.col("sv") / nd)
            .withColumn("tslope", F.when(ok, slope))
            .withColumn("tintercept",
                        F.when(ok, (F.col("sv") - slope * sxd) / nd))
            .withColumn("tr2",
                        F.when(ok & (F.col("denv") > 0),
                               F.col("covn2") * F.col("covn2")
                               / (F.col("den") * F.col("denv"))))
            .drop("covn2", "den", "denv"))


def trend_forecast(tier: DataFrame, bucket_ms: int,
                   horizon_ms: int) -> DataFrame:
    """PromQL ``predict_linear`` over tier rows: extrapolate each
    bucket's fitted line ``horizon_ms`` past the bucket END.

    Row-local arithmetic on the served slope/intercept — the forecast
    evaluates the line at x* = (bucket_ms + horizon_ms) minutes from
    the bucket start.  NULL wherever the fit itself is NULL (n < 2 or
    a degenerate minute spread): refusing to forecast beats
    extrapolating a point.  A forecast is an ESTIMATE by contract —
    the family's exactness guarantee covers the carried sums, not the
    extrapolation — so the ``tier_families_1d`` driver gate compares
    it rounded to 6 decimals against the oracle's closed-form line,
    and pytest pins it too."""
    xs = F.lit((bucket_ms + horizon_ms) / MINUTE_MS)
    est = trend_estimates(tier)
    return est.withColumn(
        "tforecast", F.col("tintercept") + F.col("tslope") * xs)
