"""EWMA serve (operators/smoothing.py): agreement with pandas' fixed-α
EWMA on a regular grid, an independent recursion on irregular data,
the half-life identity, null handling, and long-gap forgetting."""
from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gorilla_tsc_spark.operators.rollup import HOUR_MS, rollup_points
from gorilla_tsc_spark.operators.smoothing import ewma_serve

HL = 6 * HOUR_MS  # half-life: 6 hours


def _reference(rows, halflife_ms):
    """Independent recursion (plain Python, per series)."""
    by_key = {}
    for conv, ts, v in rows:
        by_key.setdefault(conv, []).append((ts, v))
    out = {}
    for conv, tv in by_key.items():
        tv.sort()
        s, prev = None, None
        for ts, v in tv:
            if v is None:
                out[(conv, ts)] = s
                continue
            if s is None:
                s = v
            else:
                d = 2.0 ** (-(ts - prev) / halflife_ms)
                s = d * s + (1 - d) * v
            prev = ts
            out[(conv, ts)] = s
    return out


def test_ewma_matches_reference_on_tier(spark):
    from gorilla_tsc_spark.queries import _len_points
    t1h = rollup_points(_len_points(spark, "/root/testdata/sf0.001"),
                        HOUR_MS, F.col("v"), keys=("conv_id",)).cache()
    got = {(r["conv_id"], r["bucket"]): r["ewma"]
           for r in ewma_serve(t1h, "vsum", HL).collect()}
    rows = [(r["conv_id"], r["bucket"], r["vsum"]) for r in t1h.collect()]
    truth = _reference(rows, HL)
    assert set(got) == set(truth)
    for k, v in got.items():
        assert math.isclose(v, truth[k], rel_tol=1e-12), k
    t1h.unpersist()


def test_regular_grid_equals_pandas_fixed_alpha(spark):
    # on an even grid the time-aware decay is a constant α
    ts = [i * HOUR_MS for i in range(48)]
    vals = [float((i * 37) % 11) for i in range(48)]
    df = spark.createDataFrame(
        [("c", t, v) for t, v in zip(ts, vals)],
        "conv_id string, bucket long, vsum double")
    got = (ewma_serve(df, "vsum", HL).orderBy("bucket")
           .select("ewma").toPandas()["ewma"].to_numpy())
    alpha = 1 - 2.0 ** (-HOUR_MS / HL)
    want = (pd.Series(vals).ewm(alpha=alpha, adjust=False).mean()
            .to_numpy())
    assert got == pytest.approx(want, rel=1e-12)


def test_halflife_nulls_and_forgetting(spark):
    rows = [("c", 0, 10.0),
            ("c", HL, 0.0),            # one half-life later: mean halves
            ("c", HL + 1, None),       # null: hold, don't decay
            ("c", HL + 1000 * HL, 7.0)]  # huge gap: forget history
    df = spark.createDataFrame(
        rows, "conv_id string, bucket long, vsum double")
    out = {r["bucket"]: r["ewma"]
           for r in ewma_serve(df, "vsum", HL).collect()}
    assert out[0] == 10.0
    assert out[HL] == pytest.approx(5.0)          # 0.5·10 + 0.5·0
    assert out[HL + 1] == pytest.approx(5.0)      # carried, no decay
    assert out[HL + 1000 * HL] == pytest.approx(7.0, abs=1e-9)


def test_carry_across_arrow_batches(spark):
    # force tiny Arrow batches so one series SPANS many mapInPandas
    # batches — the carried (level, last_ts) must make the result
    # identical to the single-batch answer
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        ts = [i * HOUR_MS for i in range(200)]
        vals = [float((i * 131) % 17) for i in range(200)]
        df = spark.createDataFrame(
            [("c", t, v) for t, v in zip(ts, vals)],
            "conv_id string, bucket long, vsum double").coalesce(1)
        spark.conf.set(key, "7")
        tiny = (ewma_serve(df, "vsum", HL).orderBy("bucket")
                .select("ewma").toPandas()["ewma"].to_numpy())
        spark.conf.set(key, "100000")
        whole = (ewma_serve(df, "vsum", HL).orderBy("bucket")
                 .select("ewma").toPandas()["ewma"].to_numpy())
        assert tiny == pytest.approx(whole, rel=1e-12)
        alpha = 1 - 2.0 ** (-HOUR_MS / HL)
        want = pd.Series(vals).ewm(alpha=alpha, adjust=False).mean()
        assert tiny == pytest.approx(want.to_numpy(), rel=1e-12)
    finally:
        spark.conf.set(key, old)


def _ref_var(rows, halflife_ms):
    """Independent EW innovation-variance recursion per series."""
    by_key = {}
    for conv, ts, v in rows:
        by_key.setdefault(conv, []).append((ts, v))
    out = {}
    for conv, tv in by_key.items():
        tv.sort()
        s, var, prev = None, 0.0, None
        for ts, v in tv:
            if v is None:
                out[(conv, ts)] = var
                continue
            if s is None:
                s = v
            else:
                d = 2.0 ** (-(ts - prev) / halflife_ms)
                var = d * var + d * (1 - d) * (v - s) ** 2
                s = d * s + (1 - d) * v
            prev = ts
            out[(conv, ts)] = var
    return out


def test_ew_variance_matches_reference(spark):
    from gorilla_tsc_spark.operators.rollup import rollup_points
    from gorilla_tsc_spark.queries import _len_points
    t1h = rollup_points(_len_points(spark, "/root/testdata/sf0.001"),
                        HOUR_MS, F.col("v"), keys=("conv_id",)).cache()
    got = {(r["conv_id"], r["bucket"]): r["ewma_var"]
           for r in ewma_serve(t1h, "vsum", HL,
                               var_col="ewma_var").collect()}
    rows = [(r["conv_id"], r["bucket"], r["vsum"]) for r in t1h.collect()]
    truth = _ref_var(rows, HL)
    assert set(got) == set(truth)
    for kk, v in got.items():
        assert v == pytest.approx(truth[kk], rel=1e-9, abs=1e-9), kk
    t1h.unpersist()


def test_ewma_anomaly_bands(spark):
    from gorilla_tsc_spark.operators.smoothing import ewma_anomaly
    # steady series with mild jitter, one planted 20x spike
    ts = [i * HOUR_MS for i in range(60)]
    vals = [10.0 + (i % 3) * 0.5 for i in range(60)]
    vals[40] = 200.0
    df = spark.createDataFrame(
        [("c", t, v) for t, v in zip(ts, vals)],
        "conv_id string, bucket long, vsum double")
    out = {r["bucket"] // HOUR_MS: r for r in
           ewma_anomaly(df, "vsum", HL).collect()}
    flagged = sorted(i for i, r in out.items() if r["anomaly"])
    assert flagged == [40]
    # warm-up rows never flag (min_baseline), even though var starts 0
    assert not any(out[i]["anomaly"] for i in range(4))
    # the spike's one-step prediction came from the pre-spike level
    assert out[40]["ewma_pred"] == pytest.approx(out[39]["ewma"])


def test_ewma_anomaly_flags_shift_on_constant_baseline(spark):
    """An exactly-constant baseline decays the EW variance to zero; a
    genuine level shift must STILL flag (the band is 0 and the
    deviation is huge) — the old (pvar > 0) guard suppressed it
    forever.  Continuing constant rows after the shift settle back to
    unflagged."""
    from gorilla_tsc_spark.operators.smoothing import ewma_anomaly
    ts = [i * HOUR_MS for i in range(30)]
    vals = [10.0] * 30
    vals[20] = 50.0          # level shift against a zero-variance past
    df = spark.createDataFrame(
        [("c", t, v) for t, v in zip(ts, vals)],
        "conv_id string, bucket long, vsum double")
    out = {r["bucket"] // HOUR_MS: r for r in
           ewma_anomaly(df, "vsum", HL).collect()}
    assert out[20]["anomaly"], "shift on constant baseline must flag"
    # constant tail rows do not flag (dev stays at/below the band
    # once the recursion re-adapts and dev ≤ 1e-9 floor kicks in)
    assert not any(out[i]["anomaly"] for i in range(5, 20))
    assert not any(out[i]["anomaly"] for i in range(25, 30))


def _holt_reference(rows, hl_l, hl_t):
    """Independent Holt recursion (plain Python, per series)."""
    by_key = {}
    for conv, ts, v in rows:
        by_key.setdefault(conv, []).append((ts, v))
    out = {}
    for conv, tv in by_key.items():
        tv.sort()
        s, b, prev = None, 0.0, None
        for ts, v in tv:
            if v is None:
                out[(conv, ts)] = (s, b * 60_000.0 if s is not None else b)
                continue
            if s is None:
                s, b = v, 0.0
            else:
                dt = ts - prev
                d_l = 2.0 ** (-dt / hl_l)
                d_t = 2.0 ** (-dt / hl_t)
                s_prev = s
                s = d_l * (s + b * dt) + (1 - d_l) * v
                b = d_t * b + (1 - d_t) * (s - s_prev) / dt
            prev = ts
            out[(conv, ts)] = (s, b * 60_000.0)
    return out


def test_holt_matches_reference_on_tier(spark):
    from gorilla_tsc_spark.operators.smoothing import holt_serve
    from gorilla_tsc_spark.queries import _len_points
    t1h = rollup_points(_len_points(spark, "/root/testdata/sf0.001"),
                        HOUR_MS, F.col("v"), keys=("conv_id",)).cache()
    got = {(r["conv_id"], r["bucket"]): (r["holt"], r["holt_trend"])
           for r in holt_serve(t1h, "vsum", HL, 2 * HL).collect()}
    rows = [(r["conv_id"], r["bucket"], r["vsum"]) for r in t1h.collect()]
    truth = _holt_reference(rows, HL, 2 * HL)
    assert set(got) == set(truth)
    for k, (s, b) in got.items():
        assert math.isclose(s, truth[k][0], rel_tol=1e-12), k
        assert math.isclose(b, truth[k][1], rel_tol=1e-12, abs_tol=1e-15), k
    t1h.unpersist()


def test_holt_tracks_a_drifting_series_ewma_lags(spark):
    # v = 3 per hour, exactly linear: after warm-up Holt's trend must
    # converge on the true slope and its forecast must sit near the
    # line's continuation, while plain EWMA lags below the line.
    from gorilla_tsc_spark.operators.smoothing import (holt_forecast,
                                                       holt_serve)
    slope_per_hour = 3.0
    rows = [("c", i * HOUR_MS, slope_per_hour * i) for i in range(200)]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket long, vsum double")
    sm = holt_serve(df, "vsum", HL)
    last = (holt_forecast(sm, HOUR_MS).orderBy("bucket").collect()[-1])
    true_per_min = slope_per_hour / 60.0
    assert last["holt_trend"] == pytest.approx(true_per_min, rel=1e-3)
    # one-hour-ahead forecast ≈ the line's next value
    next_v = slope_per_hour * 200
    assert last["holt_forecast"] == pytest.approx(next_v, rel=5e-3)
    ew = ewma_serve(df, "vsum", HL).orderBy("bucket").collect()[-1]
    lag_holt = abs(rows[-1][2] - last["holt"])
    lag_ewma = abs(rows[-1][2] - ew["ewma"])
    assert lag_holt < lag_ewma / 10  # the trend term closes the lag


def test_holt_null_holds_and_reset_on_new_series(spark):
    from gorilla_tsc_spark.operators.smoothing import holt_serve
    rows = [("a", 0, 10.0), ("a", HOUR_MS, 16.0), ("a", 2 * HOUR_MS, None),
            ("b", 0, 5.0)]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket long, vsum double")
    out = {(r["conv_id"], r["bucket"]): (r["holt"], r["holt_trend"])
           for r in holt_serve(df, "vsum", HL).collect()}
    # null row: both level and trend held from the previous row
    assert out[("a", 2 * HOUR_MS)] == out[("a", HOUR_MS)]
    # a new series starts fresh — its first row is its own level, 0 trend
    assert out[("b", 0)] == (5.0, 0.0)


def test_holt_anomaly_flags_spike_on_drifting_baseline(spark):
    # a steadily-drifting series with one planted spike: the Holt bands
    # must flag exactly the spike (drift is explained by the trend
    # term), while the flat-level EWMA bands — whose innovations under
    # drift converge to a constant lag the band inflates to cover —
    # miss a spike of the same size.
    from gorilla_tsc_spark.operators.smoothing import (ewma_anomaly,
                                                       holt_anomaly)
    slope = 3.0  # per hour
    rows = []
    for i in range(120):
        v = slope * i
        if i == 90:
            v += 40.0  # ≈ 1.5× the EWMA steady-state drift lag
        rows.append(("c", i * HOUR_MS, v))
    df = spark.createDataFrame(
        rows, "conv_id string, bucket long, vsum double")
    ha = {r["bucket"] // HOUR_MS: r["anomaly"]
          for r in holt_anomaly(df, "vsum", HL, k=3.0,
                                min_baseline=30).collect()}
    assert ha[90] is True
    assert sum(ha.values()) == 1, {i for i, f in ha.items() if f}
    ea = {r["bucket"] // HOUR_MS: r["anomaly"]
          for r in ewma_anomaly(df, "vsum", HL, k=3.0,
                                min_baseline=30).collect()}
    assert ea[90] is False  # drift lag swallowed the spike



def test_holt_anomaly_projects_across_null_gap(spark):
    # the drifting series again, with a ten-row null gap: the Holt
    # state holds through the gap, so the first row after it must be
    # judged against the trend projected over the WHOLE gap (from the
    # last observed row), not over one row — clean drift flags
    # nothing, and the planted spike still flags.
    from gorilla_tsc_spark.operators.smoothing import holt_anomaly
    slope = 3.0  # per hour
    rows = []
    for i in range(120):
        v = None if 60 <= i < 70 else slope * i
        if i == 100:
            v += 40.0
        rows.append(("c", i * HOUR_MS, v))
    df = spark.createDataFrame(
        rows, "conv_id string, bucket long, vsum double")
    out = {r["bucket"] // HOUR_MS: r
           for r in holt_anomaly(df, "vsum", HL, k=3.0,
                                 min_baseline=30).collect()}
    assert out[70]["holt_pred"] == pytest.approx(slope * 70, abs=0.5)
    assert out[100]["anomaly"] is True
    flagged = {i for i, r in out.items() if r["anomaly"]}
    assert flagged == {100}, flagged

def test_holt_variance_carries_and_decays(spark):
    # innovation variance must decay to ~0 under clean drift (the
    # trend term explains the motion) — checked via the served column
    from gorilla_tsc_spark.operators.smoothing import holt_serve
    rows = [("c", i * HOUR_MS, 5.0 * i) for i in range(200)]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket long, vsum double")
    out = (holt_serve(df, "vsum", HL, var_col="holt_var")
           .orderBy("bucket").collect())
    # warm-up innovations (b starts at 0) peak ~80 of variance; the
    # coupled level/trend transient then decays it away geometrically
    assert out[-1]["holt_var"] < 1e-3
    assert out[5]["holt_var"] > 100 * (out[-1]["holt_var"] + 1e-12)
