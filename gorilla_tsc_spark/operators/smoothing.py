"""EWMA + Holt smoothing serves: time-aware exponential decay over
tier rows (single level, and the double-exponential level+trend pair).

The one PromQL-ish serve surface the tier families can't express
algebraically: s_i = d·s_{i−1} + (1−d)·x_i is ORDER-DEPENDENT, so it
is not a mergeable summary — it's a serve-time transform, like
`corr_estimates` or `gapfill`, applied to an already-built tier.

Irregular spacing is handled the standard way (half-life decay over
elapsed time, the convention behind pandas `ewm(halflife=..., times=…)`
and RiskMetrics-style irregular EWMA):

    d_i = exp(−ln2 · Δt_i / halflife)      (Δt from the previous row)
    s_i = d_i · s_{i−1} + (1 − d_i) · x_i,   s_0 = x_0

so a series that goes quiet for a day forgets a day's worth, not one
row's worth.  Nulls (e.g. gap-filled buckets under the `null` policy)
carry the previous smoothed value forward and decay nothing.

Why Python is the right path HERE and nowhere upstream: the recursion
has a closed form (a decay-weighted prefix sum) but its stable
evaluation needs per-chunk renormalisation — exp(+Σlog d) overflows a
double within ~1k rows at hourly grain — so the honest distributed
shape is Arrow batches over TIER rows: repartition by series, sort
within partitions, one ``mapInPandas`` pass that carries the level
across batch boundaries.  The input is the (series, bucket) tier (one
row per bucket), never raw points; the shuffle key is the same series
key every tier already shuffles on, so at 100 TB this adds one Arrow
hop over tier-sized data and zero new shuffles of point-sized data.
(Per-series ``applyInPandas`` would be semantically identical but pays
a pandas-frame construction per series — measured to dominate the
serve wall at ~10k small series per executor.)
"""
from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers' idiom)
from pyspark.sql.types import DoubleType, StructField, StructType


def _ewma_numpy(ts: np.ndarray, x: np.ndarray, halflife_ms: float,
                s: float = math.nan, var: float = 0.0,
                prev_ts: float = 0.0):
    """Reference recursion, one O(n) pass; null x holds the level.

    Alongside the level it maintains the exponentially-weighted
    variance of the one-step innovations (Welford-style EW form,
    the RiskMetrics recursion):  var ← d·var + d·(1−d)·(x−s_prev)²
    — the d·(1−d) weighting makes a constant series decay to zero
    variance and a level shift register at full weight.  The pair
    (level, var) is what EWMA-band anomaly detection serves.
    """
    n = len(x)
    out = np.empty(n, dtype=np.float64)
    out_var = np.empty(n, dtype=np.float64)
    log2 = math.log(2.0)
    for i in range(n):
        xi = x[i]
        if math.isnan(xi):
            out[i] = s  # carry the level; nothing observed to move toward
            out_var[i] = var
            continue
        if math.isnan(s):
            s = xi
        else:
            d = math.exp(-log2 * (ts[i] - prev_ts) / halflife_ms)
            diff = xi - s
            var = d * var + d * (1.0 - d) * diff * diff
            s = d * s + (1.0 - d) * xi
        prev_ts = ts[i]
        out[i] = s
        out_var[i] = var
    return out, out_var, s, var, prev_ts


def ewma_serve(tier: DataFrame, value_col: str, halflife_ms: int,
               keys=("conv_id",), ts_col: str = "bucket",
               out_col: str = "ewma",
               var_col: str | None = None) -> DataFrame:
    """Add a half-life-decayed EWMA of ``value_col`` per series,
    ordered by ``ts_col``; with ``var_col`` set, also the EW innovation
    variance from the same pass.  Input should be a tier (one row per
    (series, bucket)); output keeps every input column.

    Shape: repartition by series + sort within partitions, then ONE
    ``mapInPandas`` pass — the recursion crosses Arrow-batch boundaries
    by carrying (series, level, var, last_ts), so a partition is
    processed in a handful of large batches instead of one pandas frame
    per series (``applyInPandas``'s per-group frame cost dominated the
    serve wall: the recursion itself is ~25 ms for 40k rows).
    """
    fields = tier.schema.fields + [StructField(out_col, DoubleType(), True)]
    if var_col:
        fields = fields + [StructField(var_col, DoubleType(), True)]
    schema = StructType(fields)
    key_cols = list(keys)
    hl = float(halflife_ms)

    def smooth(batches):
        carry_key = None
        carry_s, carry_var, carry_ts = math.nan, 0.0, 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                pdf[out_col] = np.empty(0, dtype=np.float64)
                if var_col:
                    pdf[var_col] = np.empty(0, dtype=np.float64)
                yield pdf
                continue
            karrs = [pdf[k].to_numpy() for k in key_cols]
            change = np.zeros(n, dtype=bool)
            change[0] = True
            for a in karrs:
                change[1:] |= a[1:] != a[:-1]
            starts = np.flatnonzero(change)
            ts = pdf[ts_col].to_numpy(dtype=np.float64)
            x = pdf[value_col].to_numpy(dtype=np.float64)  # None → NaN
            out = np.empty(n, dtype=np.float64)
            ovar = np.empty(n, dtype=np.float64)
            for j, lo in enumerate(starts):
                hi = starts[j + 1] if j + 1 < len(starts) else n
                key = tuple(a[lo] for a in karrs)
                if key != carry_key:
                    carry_s, carry_var, carry_ts = math.nan, 0.0, 0.0
                (out[lo:hi], ovar[lo:hi],
                 carry_s, carry_var, carry_ts) = _ewma_numpy(
                    ts[lo:hi], x[lo:hi], hl, carry_s, carry_var, carry_ts)
                carry_key = key
            pdf[out_col] = out
            if var_col:
                pdf[var_col] = ovar
            yield pdf

    parts = tier.repartition(*key_cols).sortWithinPartitions(
        *key_cols, ts_col)
    return parts.mapInPandas(smooth, schema=schema)


def _holt_numpy(ts: np.ndarray, x: np.ndarray, hl_level_ms: float,
                hl_trend_ms: float, s: float = math.nan, b: float = 0.0,
                var: float = 0.0, prev_ts: float = 0.0):
    """Reference double-exponential recursion (Holt's linear method,
    PromQL ``holt_winters``'s non-seasonal shape), time-aware like
    `_ewma_numpy`: both smoothing weights decay by elapsed time, so
    irregular tiers don't over-trust stale trends.

        pred  = s + b·Δt                        (trend-projected level)
        s     = d_l·pred + (1 − d_l)·x          d_l = 2^(−Δt/hl_level)
        b     = d_t·b + (1 − d_t)·(s − s_prev)/Δt   d_t = 2^(−Δt/hl_trend)

    b is the smoothed local slope in value units per MILLISECOND
    (scaled at serve time); null x holds both level and trend.

    Alongside the pair it maintains the EW variance of the ONE-STEP
    INNOVATIONS x − (s_prev + b_prev·Δt) — deviations from the
    trend-projected prediction, not from the flat level — in the same
    d·(1−d)-weighted form as `_ewma_numpy`, so a steadily-drifting
    series decays to zero innovation variance (drift is explained by
    the trend term) while a spike registers at full weight.  That is
    what makes `holt_anomaly` drift-immune where `ewma_anomaly`
    structurally flags every row of a fast-trending series."""
    n = len(x)
    out_s = np.empty(n, dtype=np.float64)
    out_b = np.empty(n, dtype=np.float64)
    out_var = np.empty(n, dtype=np.float64)
    for i in range(n):
        xi = x[i]
        if math.isnan(xi):
            out_s[i] = s
            out_b[i] = b
            out_var[i] = var
            continue
        if math.isnan(s):
            s = xi
            b = 0.0
        else:
            dt = ts[i] - prev_ts
            d_l = 2.0 ** (-dt / hl_level_ms)
            d_t = 2.0 ** (-dt / hl_trend_ms)
            s_prev = s
            innov = xi - (s + b * dt)
            var = d_l * var + d_l * (1.0 - d_l) * innov * innov
            s = d_l * (s + b * dt) + (1.0 - d_l) * xi
            b = d_t * b + (1.0 - d_t) * (s - s_prev) / dt
        prev_ts = ts[i]
        out_s[i] = s
        out_b[i] = b
        out_var[i] = var
    return out_s, out_b, out_var, s, b, var, prev_ts


def holt_serve(tier: DataFrame, value_col: str, level_halflife_ms: int,
               trend_halflife_ms: int | None = None, keys=("conv_id",),
               ts_col: str = "bucket", level_col: str = "holt",
               trend_col: str = "holt_trend",
               var_col: str | None = None) -> DataFrame:
    """Double-exponential (Holt) smoothing serve: adds the smoothed
    level and the smoothed local trend (value units per MINUTE, the
    trend family's unit) per series, ordered by ``ts_col``.

    Where `ewma_serve` lags behind a drifting series by design (a
    single level can't represent motion), the Holt pair tracks it —
    this is PromQL's ``holt_winters`` (non-seasonal Holt, despite the
    name) with the same time-aware decay convention as `ewma_serve`.
    ``trend_halflife_ms`` defaults to the level half-life.

    Same distributed shape as `ewma_serve` — tier rows only, one
    series-keyed repartition + sortWithinPartitions, one ``mapInPandas``
    pass carrying (series, level, trend, last_ts) across Arrow
    batches; the recursion is order-dependent with no stable closed
    form, so this is the justified-Python serve class."""
    fields = tier.schema.fields + [
        StructField(level_col, DoubleType(), True),
        StructField(trend_col, DoubleType(), True)]
    if var_col:
        fields = fields + [StructField(var_col, DoubleType(), True)]
    schema = StructType(fields)
    key_cols = list(keys)
    hl_l = float(level_halflife_ms)
    hl_t = float(trend_halflife_ms
                 if trend_halflife_ms is not None else level_halflife_ms)

    def smooth(batches):
        carry_key = None
        carry_s, carry_b, carry_v, carry_ts = math.nan, 0.0, 0.0, 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                pdf[level_col] = np.empty(0, dtype=np.float64)
                pdf[trend_col] = np.empty(0, dtype=np.float64)
                if var_col:
                    pdf[var_col] = np.empty(0, dtype=np.float64)
                yield pdf
                continue
            karrs = [pdf[k].to_numpy() for k in key_cols]
            change = np.zeros(n, dtype=bool)
            change[0] = True
            for a in karrs:
                change[1:] |= a[1:] != a[:-1]
            starts = np.flatnonzero(change)
            ts = pdf[ts_col].to_numpy(dtype=np.float64)
            x = pdf[value_col].to_numpy(dtype=np.float64)  # None → NaN
            out_s = np.empty(n, dtype=np.float64)
            out_b = np.empty(n, dtype=np.float64)
            out_v = np.empty(n, dtype=np.float64)
            for j, lo in enumerate(starts):
                hi = starts[j + 1] if j + 1 < len(starts) else n
                key = tuple(a[lo] for a in karrs)
                if key != carry_key:
                    carry_s, carry_b, carry_v, carry_ts = (math.nan, 0.0,
                                                           0.0, 0.0)
                (out_s[lo:hi], out_b[lo:hi], out_v[lo:hi],
                 carry_s, carry_b, carry_v, carry_ts) = _holt_numpy(
                    ts[lo:hi], x[lo:hi], hl_l, hl_t,
                    carry_s, carry_b, carry_v, carry_ts)
                carry_key = key
            pdf[level_col] = out_s
            pdf[trend_col] = out_b * 60_000.0  # per-ms → per-minute
            if var_col:
                pdf[var_col] = out_v
            yield pdf

    parts = tier.repartition(*key_cols).sortWithinPartitions(
        *key_cols, ts_col)
    return parts.mapInPandas(smooth, schema=schema)


def holt_forecast(smoothed: DataFrame, horizon_ms: int,
                  level_col: str = "holt", trend_col: str = "holt_trend",
                  out_col: str = "holt_forecast") -> DataFrame:
    """Row-local ``predict_linear``-style extrapolation from a
    `holt_serve` output: level + trend · horizon.  Unlike the trend
    family's per-bucket fit, this projects the recursively-smoothed
    state — the PromQL ``holt_winters``-then-extrapolate idiom."""
    return smoothed.withColumn(
        out_col, F.col(level_col)
        + F.col(trend_col) * F.lit(horizon_ms / 60_000.0))


def holt_anomaly(tier: DataFrame, value_col: str, halflife_ms: int,
                 k: float = 3.0, min_baseline: int = 3,
                 keys=("conv_id",), ts_col: str = "bucket") -> DataFrame:
    """Trend-aware anomaly bands: flag a row when its value deviates
    from the TREND-PROJECTED one-step prediction (previous level +
    previous trend · Δt) by more than ``k`` EW innovation standard
    deviations.  On a steadily-drifting series `ewma_anomaly` is
    structurally blind or noisy — its flat level lags the drift, so
    either the band inflates to cover the lag or every row flags —
    while the Holt innovation decays to zero under clean drift and a
    genuine spike registers at full weight.  Same lag discipline as
    `ewma_anomaly`: the judging state never saw the row it judges."""
    from pyspark.sql.window import Window
    sm = holt_serve(tier, value_col, halflife_ms, keys=keys,
                    ts_col=ts_col, var_col="holt_var")
    w = Window.partitionBy(*list(keys)).orderBy(ts_col)
    # the Holt state only advances on non-null samples, so the trend
    # projects from the last OBSERVED row, not the previous (maybe
    # null) one
    last_seen = F.last(F.when(F.col(value_col).isNotNull(), F.col(ts_col)),
                       ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    dt_min = (F.col(ts_col) - last_seen) / F.lit(60_000.0)
    pred = F.lag("holt").over(w) + F.lag("holt_trend").over(w) * dt_min
    pvar = F.lag("holt_var").over(w)
    seen = F.row_number().over(w) - 1
    dev = F.abs(F.col(value_col) - pred)
    band = F.lit(float(k)) * F.sqrt(pvar)
    return (sm
            .withColumn("holt_pred", pred)
            .withColumn("holt_band", band)
            .withColumn("anomaly",
                        F.coalesce((seen >= min_baseline)
                                   & (dev > band) & (dev > 1e-9),
                                   F.lit(False))))


def ewma_anomaly(tier: DataFrame, value_col: str, halflife_ms: int,
                 k: float = 3.0, min_baseline: int = 3,
                 keys=("conv_id",), ts_col: str = "bucket") -> DataFrame:
    """EWMA-band anomaly detection: flag a row when its value deviates
    from the PREVIOUS smoothed level by more than ``k`` EW standard
    deviations (one-step-ahead prediction bands — the level/var pair
    must not have seen the row it judges, hence the lag).  Complements
    `counters.anomaly_zscore`: the EWMA band adapts at the half-life
    and never pays a range-window scan; the z-score uses a hard
    trailing window.  A ``min_baseline``-row warm-up suppresses the
    cold-start (var starts at 0, which would flag the 2nd row)."""
    from pyspark.sql.window import Window
    sm = ewma_serve(tier, value_col, halflife_ms, keys, ts_col,
                    out_col="ewma", var_col="ewma_var")
    w = Window.partitionBy(*list(keys)).orderBy(ts_col)
    pred = F.lag("ewma").over(w)
    pvar = F.lag("ewma_var").over(w)
    seen = F.row_number().over(w) - 1
    dev = F.abs(F.col(value_col) - pred)
    band = F.lit(float(k)) * F.sqrt(pvar)
    # no (pvar > 0) guard: on an exactly-constant baseline the variance
    # decays to 0 and a genuine level shift must still flag.  The small
    # absolute floor on dev only suppresses float jitter around a zero
    # band, never a real deviation.
    return (sm
            .withColumn("ewma_pred", pred)
            .withColumn("ewma_band", band)
            .withColumn("anomaly",
                        F.coalesce((seen >= min_baseline)
                                   & (dev > band) & (dev > 1e-9),
                                   F.lit(False))))
