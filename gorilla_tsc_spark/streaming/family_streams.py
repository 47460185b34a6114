"""Streaming twins of the tier families, each bit-equal to its batch
build so cascade, serve and refresh are shared with batch.

Every family summary is within-bucket by design (seams belong to the
cascade), so no twin needs cross-bucket state, and each family's build
shape puts it in one of two classes, each served by one helper here:

- `_windowed_stream` — families whose aggregates are order-insensitive
  (correlation's six sums, both histograms' bin counts, the linear
  trend's sums over its per-point in-bucket minute offset, and the
  OHLCV candle, whose open/close are declarative `min_by`/`max_by`
  over the (ts, v) struct).  The twin is a watermarked windowed
  aggregation over the SAME aggregate expressions the batch build
  uses — pure JVM, append mode, no state operator.
- `_sealed_stream` — families whose summary walks the bucket's points
  in (ts, v) order (time-weight's LOCF integral, the counter-rate
  reset-corrected pair walk, state-duration's time-in-state, lag-1
  autocorrelation's adjacency products, heartbeat's gap clipping).
  One (series, bucket)'s points are buffered in `applyInPandasWithState`
  and the exact batch row is sealed when the event-time watermark
  passes the bucket end — the same policy as the event-time block
  sealer.  State per open group is one series-bucket's points
  (bounded: one conversation-hour), checkpointed by the state store.
  Heartbeat buffers a constant value beside each beat so it shares the
  machine; its seal row reads timestamps only.

The rate twin takes a POINT stream (series, ts, v) where v is the
measured counter sample: in production the counter IS the wire channel.
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.rollup import MINUTE_MS, bucket_col


def _points(stream: DataFrame, v, *extra) -> DataFrame:
    """(conv_id, ts, ts_ms, v, *extra) rows of a stream, null v dropped
    (the batch builds drop null values the same way)."""
    ts = F.col("ts").cast("timestamp")
    return (stream.where(v.isNotNull())
            .select("conv_id", ts.alias("ts"),
                    F.unix_millis(ts).alias("ts_ms"),
                    v.cast("double").alias("v"), *extra))


def _windowed_stream(pts: DataFrame, window: str, watermark: str, aggs,
                     cols) -> DataFrame:
    """Order-insensitive twin: watermark → event-time window → the
    batch build's aggregates → (conv_id, bucket = window start, *cols)."""
    agg = (pts.withWatermark("ts", watermark)
           .groupBy("conv_id", F.window("ts", window).alias("w"))
           .agg(*aggs))
    return agg.select("conv_id",
                      F.unix_millis(F.col("w.start")).alias("bucket"), *cols)


_L, _D = T.LongType(), T.DoubleType()
BUFFER_STATE_SCHEMA = T.StructType([
    T.StructField("ts", T.ArrayType(_L)), T.StructField("v", T.ArrayType(_D))])


def _row_schema(*fields) -> T.StructType:
    """A sealed row's schema: (conv_id, bucket, n), then the family's
    (name, type) summary fields."""
    return T.StructType(
        [T.StructField("conv_id", T.StringType()),
         T.StructField("bucket", _L), T.StructField("n", _L)]
        + [T.StructField(name, dtype) for name, dtype in fields])


# the first/last (ts, v) ends every LOCF-walk family carries
_ENDS = (("first_ts", _L), ("first_v", _D), ("last_ts", _L), ("last_v", _D))


def _sorted_ts_v(ts_l: list, v_l: list):
    """(ts, v)-lexsorted arrays — the families' shared tie order."""
    a = np.lexsort((np.asarray(v_l, np.float64),
                    np.asarray(ts_l, np.int64)))
    return np.asarray(ts_l, np.int64)[a], np.asarray(v_l, np.float64)[a]


def _make_buffering_state_fn(seal_row, schema: T.StructType,
                             bucket_ms: int):
    """The order-dependent families' shared buffer-and-seal state
    machine: accumulate one (series, bucket)'s (ts, v) points across
    microbatches, seal the exact batch-operator row via `seal_row`
    when the event-time watermark passes the bucket end.  One place to
    fix timeout/extend semantics for every family that needs ordering."""
    cols = [f.name for f in schema.fields]

    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        conv_id, bucket = key[0], int(key[1])
        if state.hasTimedOut:
            ts_l, v_l = state.get
            state.remove()
            if ts_l:
                yield pd.DataFrame([seal_row(conv_id, bucket, ts_l, v_l)],
                                   columns=cols)
            return
        ts_l, v_l = (state.get if state.exists else ([], []))
        ts_l, v_l = list(ts_l), list(v_l)
        for pdf in pdf_iter:
            ts_l.extend(pdf["ts_ms"].astype("int64").tolist())
            v_l.extend(pdf["v"].astype("float64").tolist())
        state.update((ts_l, v_l))
        state.setTimeoutTimestamp(
            max(bucket + bucket_ms, state.getCurrentWatermarkMs() + 1))

    return fn


def _sealed_stream(stream: DataFrame, bucket_ms: int, v, seal_row,
                   schema: T.StructType, delay: str) -> DataFrame:
    """Order-dependent twin: buffer each (conv_id, bucket)'s (ts_ms, v)
    points and emit `seal_row(conv_id, bucket, ts_list, v_list)` —
    the exact batch row — once the watermark passes the bucket end."""
    pts = (_points(stream, v).withWatermark("ts", delay)
           .withColumn("bucket", bucket_col(F.col("ts_ms"), bucket_ms)))
    return pts.groupBy("conv_id", "bucket").applyInPandasWithState(
        _make_buffering_state_fn(seal_row, schema, bucket_ms),
        outputStructType=schema,
        stateStructType=BUFFER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_corr_tier(transcripts_stream: DataFrame, window: str = "1 hour",
                     watermark: str = "10 minutes") -> DataFrame:
    """Transcript stream → watermark-sealed correlation tier rows
    (x = chars per turn, y = whitespace tokens per turn), bit-equal to
    the batch `corr_tier` at the same grain: every statistic is a sum
    of integer-valued doubles, exact in any arrival order."""
    from ..operators.correlate import STAT_COLS, _corr_aggs

    x = F.length("text").cast("double")
    y = F.size(F.split("text", r"\s+")).cast("double")
    # mirror the batch corr_tier's paired-observation filter: both x
    # and y derive from text, so a null text row must not count in n
    # while the sums skip it (that would skew cov/r vs the batch tier)
    pts = (transcripts_stream
           .where(F.col("text").isNotNull())
           .select("conv_id", F.col("ts").cast("timestamp").alias("ts"),
                   x.alias("x"), y.alias("y")))
    return _windowed_stream(pts, window, watermark,
                            _corr_aggs(F.col("x"), F.col("y")), STAT_COLS)


def stream_hist_tier(points_stream: DataFrame, lo: float, width: float,
                     nbins: int, window: str = "1 hour",
                     watermark: str = "10 minutes") -> DataFrame:
    """Point stream (conv_id, ts, v) → watermark-sealed histogram tier
    rows, bit-equal to the batch `histogram_tier` at the same grain:
    every component (n, below, above, each bin count) is a sum, exact
    in any arrival order."""
    from ..operators.histogram import STAT_COLS, _bin_expr, _hist_aggs

    b = _bin_expr(F.col("v"), lo, width, nbins)
    return _windowed_stream(_points(points_stream, F.col("v")), window,
                            watermark, _hist_aggs(b, nbins), STAT_COLS)


def stream_exphist_tier(points_stream: DataFrame, nbins: int,
                        window: str = "1 hour",
                        watermark: str = "10 minutes") -> DataFrame:
    """Point stream (conv_id, ts, v) → watermark-sealed exponential-
    histogram tier rows, bit-equal to the batch `exphist_tier` at the
    same grain: every component (n, below, above, each power-of-two
    bin count) is a sum, exact in any arrival order."""
    from ..operators.exphist import _exp_bin_expr
    from ..operators.histogram import STAT_COLS, _hist_aggs

    b = _exp_bin_expr(F.col("v"), nbins)
    return _windowed_stream(_points(points_stream, F.col("v")), window,
                            watermark, _hist_aggs(b, nbins), STAT_COLS)


def stream_trend_tier(points_stream: DataFrame, bucket_ms: int,
                      watermark: str = "10 minutes") -> DataFrame:
    """Point stream (conv_id, ts, v) → watermark-sealed linear-trend
    tier rows, bit-equal to the batch `trend_tier` at the same grain:
    the regressor x = floor((ts_ms % bucket_ms) / 60000) is per-point
    (no neighbor context), and every summary column is a sum of small
    integers / integer-valued doubles — exact in any arrival order."""
    from ..operators.trend import SUMMARY_COLS, _trend_aggs, _x_expr

    assert bucket_ms % MINUTE_MS == 0, "grain must align to minutes"
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    pts = _points(points_stream, F.col("v"),
                  _x_expr(ts_ms, bucket_ms).alias("x"))
    return _windowed_stream(pts, f"{bucket_ms // 1000} seconds",
                            watermark, _trend_aggs(F.col("x"), F.col("v")),
                            SUMMARY_COLS)


def stream_candle_tier(points_stream: DataFrame,
                       vol_col: str | None = None,
                       window: str = "1 hour",
                       watermark: str = "10 minutes") -> DataFrame:
    """Point stream (conv_id, ts, v[, vol]) → watermark-sealed OHLCV
    candle rows, bit-equal to the batch `candle_tier` at the same
    grain (same column set, so the rows cascade like batch rows):
    every component is a min/max/sum or a min_by/max_by over an
    (event-time, value) struct — all order-insensitive."""
    from ..operators.candle import SUMMARY_COLS, VOL_COLS, _build_aggs

    extra = ([F.col(vol_col).cast("double").alias("vol")]
             if vol_col is not None else [])
    vol = F.col("vol") if vol_col is not None else None
    cols = SUMMARY_COLS + (VOL_COLS if vol_col is not None else ())
    return _windowed_stream(
        _points(points_stream, F.col("v"), *extra), window, watermark,
        _build_aggs(F.col("v"), F.struct("ts_ms", "v"), vol), cols)


STREAM_TWA_SCHEMA = _row_schema(*_ENDS, ("wsum", _D))


def _seal_twa_row(conv_id: str, bucket: int, ts_l: list, v_l: list) -> dict:
    ts, v = _sorted_ts_v(ts_l, v_l)
    wsum = float((v[:-1] * np.diff(ts)).sum()) if len(ts) > 1 else 0.0
    return {"conv_id": conv_id, "bucket": bucket, "n": int(len(ts)),
            "first_ts": int(ts[0]), "first_v": float(v[0]),
            "last_ts": int(ts[-1]), "last_v": float(v[-1]), "wsum": wsum}


def stream_twa_tier(transcripts_stream: DataFrame, bucket_ms: int,
                    delay: str = "10 minutes") -> DataFrame:
    """Transcript stream → watermark-sealed time-weight tier rows over
    the turn-length channel, bit-equal to the batch `twa_tier`."""
    return _sealed_stream(transcripts_stream, bucket_ms, F.length("text"),
                          _seal_twa_row, STREAM_TWA_SCHEMA, delay)


STREAM_RATE_SCHEMA = _row_schema(*_ENDS, ("increase", _D), ("resets", _L))


def _seal_rate_row(conv_id: str, bucket: int, ts_l: list, v_l: list) -> dict:
    """Exact batch `rate_tier` row for one sealed (series, bucket):
    (ts, v)-sorted reset-corrected pair walk, vectorized."""
    ts, v = _sorted_ts_v(ts_l, v_l)
    if len(v) > 1:
        d = np.diff(v)
        drops = d < 0
        increase = float(np.where(drops, v[1:], d).sum())
        resets = int(drops.sum())
    else:
        increase, resets = 0.0, 0
    return {"conv_id": conv_id, "bucket": bucket, "n": int(len(ts)),
            "first_ts": int(ts[0]), "first_v": float(v[0]),
            "last_ts": int(ts[-1]), "last_v": float(v[-1]),
            "increase": increase, "resets": resets}


def stream_rate_tier(points_stream: DataFrame, bucket_ms: int,
                     delay: str = "10 minutes") -> DataFrame:
    """Counter-point stream (conv_id, ts, v) → watermark-sealed rate
    tier rows, bit-equal to the batch `rate_tier` at the same grain
    (every statistic is integer-valued arithmetic over the in-bucket
    pair walk)."""
    return _sealed_stream(points_stream, bucket_ms, F.col("v"),
                          _seal_rate_row, STREAM_RATE_SCHEMA, delay)


STREAM_STATE_SCHEMA = _row_schema(
    ("first_ts", _L), ("first_s", T.IntegerType()), ("last_ts", _L),
    ("last_s", T.IntegerType()), ("durs", T.ArrayType(_L)), ("trans", _L))


def _make_seal_state_row(nstates: int):
    """Exact batch `state_tier` row for one sealed (series, bucket):
    (ts, s)-sorted LOCF walk — every consecutive pair's interval is
    attributed to the earlier point's state (all pairs are in-bucket
    here by construction; seams belong to the cascade)."""
    def seal(conv_id: str, bucket: int, ts_l: list, v_l: list) -> dict:
        ts, v = _sorted_ts_v(ts_l, v_l)
        s = v.astype(np.int64)
        durs = np.zeros(nstates, np.int64)
        trans = 0
        if len(ts) > 1:
            np.add.at(durs, s[:-1], np.diff(ts))
            trans = int((np.diff(s) != 0).sum())
        return {"conv_id": conv_id, "bucket": bucket, "n": int(len(ts)),
                "first_ts": int(ts[0]), "first_s": int(s[0]),
                "last_ts": int(ts[-1]), "last_s": int(s[-1]),
                "durs": durs.tolist(), "trans": trans}
    return seal


def stream_state_tier(points_stream: DataFrame, bucket_ms: int,
                      nstates: int, delay: str = "10 minutes") -> DataFrame:
    """State-point stream (conv_id, ts, s) → watermark-sealed
    state-duration tier rows, bit-equal to the batch `state_tier` at
    the same grain (integer-ms duration vector per declared state).
    The state index rides the float buffer: small non-negative ints
    are exact in float64, and the (ts, v) sort is the family's
    (ts_ms, s) tie rule."""
    return _sealed_stream(points_stream, bucket_ms, F.col("s").cast("int"),
                          _make_seal_state_row(nstates), STREAM_STATE_SCHEMA,
                          delay)


STREAM_AUTOCORR_SCHEMA = _row_schema(
    *_ENDS, ("sx", _D), ("sxx", _D), ("sadj", _D), ("n_pairs", _L))


def _seal_autocorr_row(conv_id: str, bucket: int, ts_l: list,
                       v_l: list) -> dict:
    """Exact batch `autocorr_tier` row for one sealed (series, bucket):
    (ts, v)-sorted adjacency-product walk, vectorized; all in-bucket
    pairs by construction (seams belong to the cascade)."""
    ts, v = _sorted_ts_v(ts_l, v_l)
    sadj = float((v[:-1] * v[1:]).sum()) if len(v) > 1 else 0.0
    return {"conv_id": conv_id, "bucket": bucket, "n": int(len(ts)),
            "first_ts": int(ts[0]), "first_v": float(v[0]),
            "last_ts": int(ts[-1]), "last_v": float(v[-1]),
            "sx": float(v.sum()), "sxx": float((v * v).sum()),
            "sadj": sadj, "n_pairs": int(len(ts)) - 1}


def stream_autocorr_tier(points_stream: DataFrame, bucket_ms: int,
                         delay: str = "10 minutes") -> DataFrame:
    """Point stream (conv_id, ts, v) → watermark-sealed autocorrelation
    tier rows, bit-equal to the batch `autocorr_tier` at the same grain
    (integer-valued-double sums/products over the in-bucket adjacency
    walk)."""
    return _sealed_stream(points_stream, bucket_ms, F.col("v"),
                          _seal_autocorr_row, STREAM_AUTOCORR_SCHEMA, delay)


STREAM_HB_SCHEMA = _row_schema(
    ("first_ts", _L), ("last_ts", _L), ("live_ms", _L), ("max_gap_ms", _L),
    ("interruptions", _L))


def _make_seal_hb_row(hb_ms: int):
    """Exact batch `heartbeat_tier` row for one sealed (series, bucket):
    beats sorted and deduped, each in-bucket gap clipped at hb_ms."""
    def seal(conv_id: str, bucket: int, ts_l: list, v_l: list) -> dict:
        ts = np.unique(np.asarray(ts_l, dtype=np.int64))  # sort + dedupe
        gaps = np.diff(ts)
        return {
            "conv_id": conv_id, "bucket": bucket, "n": int(len(ts)),
            "first_ts": int(ts[0]), "last_ts": int(ts[-1]),
            "live_ms": int(np.minimum(gaps, hb_ms).sum()) if len(gaps) else 0,
            "max_gap_ms": int(gaps.max()) if len(gaps) else 0,
            "interruptions": int((gaps > hb_ms).sum()),
        }
    return seal


def stream_heartbeat_tier(transcripts_stream: DataFrame, bucket_ms: int,
                          hb_ms: int, delay: str = "10 minutes") -> DataFrame:
    """Transcript stream → watermark-sealed heartbeat tier rows, each
    bit-identical to the batch `heartbeat_tier` row for the same beats
    (every turn is a beat, whatever its text)."""
    return _sealed_stream(transcripts_stream, bucket_ms, F.lit(0.0),
                          _make_seal_hb_row(hb_ms), STREAM_HB_SCHEMA, delay)
