"""Lossy compression as Spark operators: PMC-MR (piecewise-constant)
and Swing (piecewise-linear) segment filters + native reconstruction.

The filters are inherently sequential per series (reference
``PmcMR.java:10-48``, ``SwingFilter.java:11-59``) → one
``applyInPandas`` scan per (series) group calling the codec entry
points (codec/batch.py: the native kernel, or the bit-exact scalar
reference of codec/lossy.py). Reconstruction is the opposite: pure Spark SQL —
``sequence(t0, t1) + explode`` and ``a*t + b`` — exactly the
DecompressorPmcMr/DecompressorSwingFilter contract of one value per
unit timestamp (``DecompressorPmcMr.java:32-47``,
``DecompressorSwingFilter.java:32-48``).

Scale: segments are tiny relative to points (that's the point of lossy
compression); the expensive direction (filtering) shuffles once keyed
by series, the cheap direction (reconstruction) is narrow.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codec.batch import (decode_values_partition,
                           encode_lossy32_partition, pmc_partition,
                           swing_partition)

PMC_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("t0", T.LongType()),
    T.StructField("t1", T.LongType()),
    T.StructField("value", T.DoubleType()),
])

SWING_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("t0", T.LongType()),
    T.StructField("t1", T.LongType()),
    T.StructField("a", T.DoubleType()),
    T.StructField("b", T.DoubleType()),
])


def _series_points(events: DataFrame) -> DataFrame:
    """events → unit-spaced (series, t, v) — the lossy decompressors
    assume dense integer timestamps (SURVEY §3.3), so t is the in-series
    row index, exactly like the reference tests synthesize timestamp++
    (``CompressTest.java:352-355``)."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("series"),
        (F.row_number().over(w) - 1).cast("long").alias("t"),
        F.col("value").cast("float").alias("v"),
    )


def _pmc_kernel(eps: float):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t", kind="mergesort")
        ts = pdf["t"].to_numpy(np.int64)
        one = np.array([0], np.int64), np.array([len(ts)], np.int64)
        t0, t1, vb, _ = pmc_partition(*one, ts, pdf["v"].to_numpy(np.float32),
                                      eps)
        return pd.DataFrame({
            "series": pdf["series"].iloc[0], "t0": t0, "t1": t1,
            "value": vb.view(np.float32).astype(np.float64)})
    return kernel


def _swing_kernel(eps: float):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t", kind="mergesort")
        ts = pdf["t"].to_numpy(np.int64)
        one = np.array([0], np.int64), np.array([len(ts)], np.int64)
        t0, t1, a, b, _ = swing_partition(
            *one, ts, pdf["v"].to_numpy(np.float32), eps)
        return pd.DataFrame({
            "series": pdf["series"].iloc[0], "t0": t0, "t1": t1,
            "a": a, "b": b})
    return kernel


def pmc_segments(events: DataFrame, eps: float) -> DataFrame:
    return _series_points(events).groupBy("series").applyInPandas(
        _pmc_kernel(eps), schema=PMC_SCHEMA)


def swing_segments(events: DataFrame, eps: float) -> DataFrame:
    return _series_points(events).groupBy("series").applyInPandas(
        _swing_kernel(eps), schema=SWING_SCHEMA)


def reconstruct_pmc(segs: DataFrame) -> DataFrame:
    """Piecewise-constant rebuild — pure JVM (sequence+explode+lit)."""
    return segs.select(
        "series",
        F.explode(F.sequence("t0", "t1")).alias("t"),
        F.col("value").cast("float").cast("double").alias("v_hat"),
    )


def reconstruct_swing(segs: DataFrame) -> DataFrame:
    """Piecewise-linear rebuild: v̂ = float32(a·t + b), matching
    ``LinearFunction.java:26-27`` float evaluation."""
    out = segs.select(
        "series", F.explode(F.sequence("t0", "t1")).alias("t"), "a", "b")
    # LinearFunction.get: a*t + b in float64, result narrowed to float32
    v = (F.col("a") * F.col("t") + F.col("b")).cast("float")
    return out.select("series", "t", v.cast("double").alias("v_hat"))


LOSSY32_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("n_points", T.IntegerType()),
    T.StructField("n_bits", T.LongType()),
    T.StructField("bits_per_value", T.DoubleType()),
    T.StructField("max_err", T.DoubleType()),
    T.StructField("eps", T.DoubleType()),
])


def lossy32_bound(events: DataFrame, log_of_error: int = -3) -> DataFrame:
    """Quantized Gorilla-32 (LossyCompressor32.java) per series: encode,
    decode with the standard 32-bit decoder, report size + max |error|
    (must stay ≤ 2^logOfError). Includes the upstream ``2^space`` XOR
    quirk, so the bound is checked empirically rather than assumed."""
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t", kind="mergesort")
        vals = pdf["v"].to_numpy(np.float32)
        vb = vals.view(np.uint32).astype(np.uint64)
        one = np.array([0], np.int64), np.array([len(vb)], np.int64)
        (payload,), (n_bits,) = encode_lossy32_partition(*one, vb,
                                                          log_of_error)
        n_bits = int(n_bits)
        dec, _ = decode_values_partition([payload], one[1], 32)
        got = dec.astype(np.uint32).view(np.float32).astype(np.float64)
        err = float(np.max(np.abs(got - vals.astype(np.float64)))) if len(got) else 0.0
        return pd.DataFrame([(
            pdf["series"].iloc[0], len(vals), n_bits,
            n_bits / max(len(vals), 1), err,
            2.0 ** log_of_error)],
            columns=[f.name for f in LOSSY32_SCHEMA.fields])

    return _series_points(events).groupBy("series").applyInPandas(
        kernel, schema=LOSSY32_SCHEMA)


def max_abs_error(events: DataFrame, recon: DataFrame) -> DataFrame:
    """ε-bound audit: join reconstruction back to the source points."""
    pts = _series_points(events).withColumn(
        "v", F.col("v").cast("double"))
    return (
        pts.join(recon, ["series", "t"])
        .groupBy("series")
        .agg(F.max(F.abs(F.col("v") - F.col("v_hat"))).alias("max_err"),
             F.count(F.lit(1)).alias("n"))
    )
