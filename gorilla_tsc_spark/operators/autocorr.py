"""Lag-1 autocorrelation tier: a thirteenth mergeable summary family.

The question this family serves is "how SMOOTH is this series right
now" — the lag-1 autocorrelation of consecutive samples.  It is the
regime signal behind this very engine: Gorilla's XOR value compression
(reference GorillaCompressor.java value path) wins exactly when
adjacent values correlate, so a serving layer that tracks per-bucket
lag-1 autocorrelation is simultaneously a data-quality monitor (white
noise vs trend vs stuck-at), an anomaly precursor (a regime change
moves r1 before it moves the mean), and a compressibility forecaster
for the block store itself.

The per-bucket summary is exactly mergeable, so the family lives the
same tier lifecycle as the other twelve:

    (n, first_ts, first_v, last_ts, last_v, sx, sxx, sadj, n_pairs)

where `sx`/`sxx` are the plain value sums, `sadj` = Σ v_t·v_{t+1} over
consecutive in-bucket pairs (points totally ordered by (ts, v) — the
same deterministic order every family in this repo walks), and
`n_pairs` counts those pairs.  Merging two time-adjacent summaries is
element-wise sums plus one *seam* product per boundary — the pair
(last_v_left, first_v_right) is a consecutive pair of the coarse
bucket that no fine bucket counted, contributing `last_v · first_v`
to `sadj` and 1 to `n_pairs`, exactly like any in-bucket pair.  The
invariant `n_pairs == n − 1` (points in a bucket are a contiguous run
of the series) survives every merge and is pinned in pytest.

Serve derives the textbook lag-1 estimator per bucket from the carried
sums — no raw-point access.  With μ = sx/n:

    Σ(v_t−μ)(v_{t+1}−μ) = sadj − μ·(2·sx − first_v − last_v)
                           + n_pairs·μ²        (pair index t=1..n−1)
    Σ(v_t−μ)²            = sxx − sx·μ
    r1 = numerator / denominator     (NULL when n_pairs = 0 or the
                                      denominator is 0 — constant runs)

All tier-row arithmetic is sums/products of integer-valued doubles
(the transcript channels are integer lengths/counts) — IEEE-exact in
any order up to 2^53, which is what lets the driver gate hash-match a
DIRECT DuckDB 1d build against the Spark 1h→1d CASCADE with no
rounding on the sums; the served quotients (mean, population variance,
r1) round to 6dp on both engines with the `+ 0.0` −0.0 normalization.

Scale shape: identical to `rate.py`/`timeweight.py` — build = one
`lead()` window partitioned by series + one groupBy whose keys extend
the window key (Spark reuses the window's hash partitioning: zero
extra exchange); cascade = the same two steps over tier rows (tiny
input); refresh rebuilds ONLY late-touched buckets from raw points
(broadcast semi-join route, cost ∝ affected data — a late point
interleaves with the adjacency walk, splitting one pair into two, so
delta-merge cannot apply).  Whole-stage codegen; no Python on the
data path.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .rollup import bucket_col, rebuild_touched

SUMMARY_COLS = ("n", "first_ts", "first_v", "last_ts", "last_v",
                "sx", "sxx", "sadj", "n_pairs")


def autocorr_tier(points: DataFrame, bucket_ms: int, value_col: str = "v",
                  keys=("conv_id",)) -> DataFrame:
    """Build the fine-grain autocorrelation tier from (ts_ms, v) points.

    Ties on ts_ms are broken by value so the adjacency walk (and hence
    first/last/sadj) is deterministic regardless of input order."""
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
              .withColumn("adj",
                          F.when(in_bucket, F.col("v") * next_v)
                           .otherwise(F.lit(0.0)))
              .withColumn("pair",
                          F.when(in_bucket, F.lit(1)).otherwise(F.lit(0))))
    order = F.struct("ts_ms", "v")
    return (staged.groupBy(*keys, bkt.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("ts_ms").alias("first_ts"),
                 F.min_by("v", order).alias("first_v"),
                 F.max("ts_ms").alias("last_ts"),
                 F.max_by("v", order).alias("last_v"),
                 F.sum("v").alias("sx"),
                 F.sum(F.col("v") * F.col("v")).alias("sxx"),
                 F.sum("adj").alias("sadj"),
                 F.sum("pair").cast("long").alias("n_pairs")))


def cascade_autocorr_tier(tier: DataFrame, from_ms: int, to_ms: int,
                          keys=("conv_id",)) -> DataFrame:
    """Merge a finer autocorrelation tier into a coarser one — exact:
    element-wise sums plus one seam product per boundary between
    order-adjacent fine buckets that share a coarse bucket (the
    consecutive pair no fine bucket counted)."""
    assert to_ms % from_ms == 0, "coarser tier must align"
    w = Window.partitionBy(*keys).orderBy("bucket")
    coarse = bucket_col(F.col("bucket"), to_ms)
    seam = bucket_col(F.lead("bucket").over(w), to_ms) == coarse
    next_first_v = F.lead("first_v").over(w)
    staged = (tier
              .withColumn("bridge",
                          F.when(seam, F.col("last_v") * next_first_v)
                           .otherwise(F.lit(0.0)))
              .withColumn("bridge_pair",
                          F.when(seam, F.lit(1)).otherwise(F.lit(0))))
    return (staged.groupBy(*keys, coarse.alias("bucket"))
            .agg(F.sum("n").alias("n"),
                 F.min("first_ts").alias("first_ts"),
                 F.min_by("first_v", "bucket").alias("first_v"),
                 F.max("last_ts").alias("last_ts"),
                 F.max_by("last_v", "bucket").alias("last_v"),
                 F.sum("sx").alias("sx"),
                 F.sum("sxx").alias("sxx"),
                 (F.sum("sadj") + F.sum("bridge")).alias("sadj"),
                 (F.sum("n_pairs") + F.sum("bridge_pair"))
                 .cast("long").alias("n_pairs")))


def refresh_autocorr_tier(tier: DataFrame, late_points: DataFrame,
                          points: DataFrame, bucket_ms: int,
                          value_col: str = "v",
                          keys=("conv_id",)) -> DataFrame:
    """Fold a late batch in at cost ∝ the buckets it touches.

    A late sample INTERLEAVES with a bucket's adjacency walk (it splits
    one consecutive pair into two new pairs), so touched buckets are
    rebuilt from raw points — the continuous-aggregate invalidation
    rule, identical to `refresh_rate_tier`/`refresh_twa_tier`.
    `points` is the raw on-time point set (in production: the
    block-store read for the affected range, which prunes untouched
    blocks); only rows semi-joined to a late-touched (series, bucket)
    are scanned past the filter."""
    return rebuild_touched(
        tier, late_points, points, bucket_ms, ("ts_ms", value_col),
        lambda raw: autocorr_tier(raw, bucket_ms, value_col, keys),
        SUMMARY_COLS, keys)


def autocorr_estimates(tier: DataFrame) -> DataFrame:
    """Serve mean / population variance / lag-1 autocorrelation per
    tier row — row-local arithmetic over the carried sums, no raw-point
    access, no Python.

    `lag1` is NULL when the bucket has no consecutive pair (n = 1) or
    zero variance (a constant run — the estimator is undefined, and a
    constant series is the infinitely-compressible regime anyway).
    The expression order below is mirrored token-for-token by the
    driver gate's DuckDB oracle so the 6dp-rounded quotients match
    IEEE-identically."""
    mu = F.col("sx") / F.col("n")
    staged = (tier.withColumn("mu", mu)
              .withColumn("den", F.col("sxx") - F.col("sx") * F.col("mu")))
    num = (F.col("sadj")
           - F.col("mu") * (F.lit(2.0) * F.col("sx")
                            - F.col("first_v") - F.col("last_v"))
           + F.col("n_pairs") * F.col("mu") * F.col("mu"))
    return (staged
            .withColumn("mean", F.col("mu"))
            .withColumn("var_pop", F.col("den") / F.col("n"))
            .withColumn("lag1",
                        F.when((F.col("n_pairs") >= 1) & (F.col("den") > 0),
                               num / F.col("den")))
            .drop("mu", "den"))
