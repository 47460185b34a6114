"""Stateful streaming Gorilla encoder via applyInPandasWithState.

The reference codec is logically a streaming operator with five scalars
of state per series (SURVEY.md §1.3). The batch engine seals one block
per (conv, day, seq); the streaming twin accumulates points per
(conv_id, day) group in state and seals a block when either

- the group goes quiet for ``timeout_ms`` (processing-time timeout), or
- the buffered point count reaches ``points_per_block``.

Sealed blocks are bit-identical to the batch encoder's output for the
same point set: the sealer calls the same codec entry point,
codec/batch.encode_partition. State carries raw (ts, bits) arrays, NOT
codec state: Gorilla's 27-bit first delta makes day blocks
self-contained, and raw buffering keeps state replayable across
restarts (checkpointed by the state store).
"""
from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..codec.batch import encode_partition

DAY_MS = 86_400_000

STREAM_BLOCKS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("channel", T.StringType()),
    T.StructField("block_start", T.LongType()),
    T.StructField("n_points", T.IntegerType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("first_ts", T.LongType()),
    T.StructField("last_ts", T.LongType()),
    T.StructField("crc", T.LongType()),
])

# state: buffered raw points for one (conv_id, day); turn_idx rides
# along so sealing orders by (turn_idx, ts) exactly like the batch
# encoder — each sealed payload is deterministic GIVEN its member set.
# Scope of the determinism claim: the processing-time sealer
# (make_encode_state_fn) chunks by COUNT, so block MEMBERSHIP depends
# on arrival batching (buffer is sorted before slicing, so membership
# is deterministic when data arrives in turn order, the normal case);
# the event-time sealer (make_eventtime_state_fn) is the
# batch-equivalent deterministic policy.
STATE_SCHEMA = T.StructType([
    T.StructField("ts", T.ArrayType(T.LongType())),
    T.StructField("vbits", T.ArrayType(T.LongType())),
    T.StructField("turn", T.ArrayType(T.LongType())),
])

INPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("day", T.LongType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("v", T.DoubleType()),
    T.StructField("turn_idx", T.LongType()),
])


def _seal(conv_id: str, day: int, ts: np.ndarray, vb: np.ndarray,
          turn: np.ndarray) -> tuple:
    # (turn_idx, ts) — the batch encoder's sort keys (encode.py kernel)
    order = np.lexsort((ts, turn))
    ts = ts[order]
    vb = vb[order]
    (payload,), _ = encode_partition(
        np.array([0], np.int64), np.array([len(ts)], np.int64),
        np.array([day * DAY_MS], np.int64), ts, vb.view(np.uint64))
    return (conv_id, "len", day * DAY_MS, len(ts), payload,
            int(ts[0]), int(ts[-1]), zlib.crc32(payload))


def make_encode_state_fn(points_per_block: int = 65_536,
                         timeout_ms: int = 60_000):
    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        conv_id, day = key[0], int(key[1])
        if state.hasTimedOut:
            (ts_l, vb_l, tn_l) = state.get
            state.remove()
            if ts_l:
                row = _seal(conv_id, day,
                            np.array(ts_l, np.int64), np.array(vb_l, np.int64),
                            np.array(tn_l, np.int64))
                yield pd.DataFrame([row], columns=[f.name for f in
                                                   STREAM_BLOCKS_SCHEMA.fields])
            return
        ts_l, vb_l, tn_l = (state.get if state.exists else ([], [], []))
        ts_l = list(ts_l)
        vb_l = list(vb_l)
        tn_l = list(tn_l)
        for pdf in pdf_iter:
            ts_l.extend(pdf["ts_ms"].astype("int64").tolist())
            vb_l.extend(pdf["v"].to_numpy(np.float64)
                        .view(np.int64).tolist())
            tn_l.extend(pdf["turn_idx"].astype("int64").tolist())
        rows = []
        if len(ts_l) >= points_per_block:
            # sort the WHOLE buffer by the batch keys before slicing,
            # so chunk membership follows (turn, ts) order rather than
            # raw arrival order across microbatches
            order = np.lexsort((np.array(ts_l, np.int64),
                                np.array(tn_l, np.int64)))
            ts_l = [ts_l[i] for i in order]
            vb_l = [vb_l[i] for i in order]
            tn_l = [tn_l[i] for i in order]
        while len(ts_l) >= points_per_block:
            chunk_ts = np.array(ts_l[:points_per_block], np.int64)
            chunk_vb = np.array(vb_l[:points_per_block], np.int64)
            chunk_tn = np.array(tn_l[:points_per_block], np.int64)
            ts_l = ts_l[points_per_block:]
            vb_l = vb_l[points_per_block:]
            tn_l = tn_l[points_per_block:]
            rows.append(_seal(conv_id, day, chunk_ts, chunk_vb, chunk_tn))
        state.update((ts_l, vb_l, tn_l))
        state.setTimeoutDuration(timeout_ms)
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              STREAM_BLOCKS_SCHEMA.fields])

    return fn


def make_eventtime_state_fn():
    """Event-time sealer: a (conv_id, day) group's block seals when the
    stream watermark passes the END OF THAT UTC DAY — the
    production-faithful policy (a day block is complete once no more
    in-order data for that day can arrive).  State carries raw points;
    sealing sorts by (turn_idx, ts) so the payload is bit-identical to
    the batch encoder for the same point set."""
    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        conv_id, day = key[0], int(key[1])
        if state.hasTimedOut:
            (ts_l, vb_l, tn_l) = state.get
            state.remove()
            if ts_l:
                row = _seal(conv_id, day,
                            np.array(ts_l, np.int64), np.array(vb_l, np.int64),
                            np.array(tn_l, np.int64))
                yield pd.DataFrame([row], columns=[f.name for f in
                                                   STREAM_BLOCKS_SCHEMA.fields])
            return
        ts_l, vb_l, tn_l = (state.get if state.exists else ([], [], []))
        ts_l = list(ts_l)
        vb_l = list(vb_l)
        tn_l = list(tn_l)
        for pdf in pdf_iter:
            ts_l.extend(pdf["ts_ms"].astype("int64").tolist())
            vb_l.extend(pdf["v"].to_numpy(np.float64)
                        .view(np.int64).tolist())
            tn_l.extend(pdf["turn_idx"].astype("int64").tolist())
        state.update((ts_l, vb_l, tn_l))
        # seal when the watermark passes end-of-day; if the group got
        # (late) data with the watermark already beyond that, time out
        # on the very next watermark advance instead
        day_end = (day + 1) * DAY_MS
        state.setTimeoutTimestamp(
            max(day_end, state.getCurrentWatermarkMs() + 1))

    return fn


def stream_encode_blocks_eventtime(transcripts_stream: DataFrame,
                                   delay: str = "10 minutes") -> DataFrame:
    """transcripts stream → Gorilla day blocks sealed by WATERMARK.

    Each (conv_id, day) block is emitted exactly once, when event time
    has provably moved past that day (watermark > end-of-day): the
    streaming twin of the batch (conv, day) blocking, with late-data
    tolerance ``delay``.  Bounded replays need one far-future sentinel
    row to advance the final watermark (same trick as
    rollup_stream.stream_rollup_1m)."""
    from pyspark.sql import functions as F
    pts = (transcripts_stream
           .withWatermark("ts", delay)
           .select(
               "conv_id",
               F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / DAY_MS)
                .cast("long").alias("day"),
               F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
               F.length("text").cast("double").alias("v"),
               F.col("turn_idx").cast("long").alias("turn_idx"),
               "ts"))
    return pts.groupBy("conv_id", "day").applyInPandasWithState(
        make_eventtime_state_fn(),
        outputStructType=STREAM_BLOCKS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_encode_blocks(transcripts_stream: DataFrame,
                         points_per_block: int = 65_536,
                         timeout_ms: int = 60_000) -> DataFrame:
    """transcripts stream → sealed Gorilla block stream ('len' channel)."""
    from pyspark.sql import functions as F
    pts = transcripts_stream.select(
        "conv_id",
        F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / DAY_MS)
         .cast("long").alias("day"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.length("text").cast("double").alias("v"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
    )
    return pts.groupBy("conv_id", "day").applyInPandasWithState(
        make_encode_state_fn(points_per_block, timeout_ms),
        outputStructType=STREAM_BLOCKS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
