"""Stateful streaming Gorilla encoder via applyInPandasWithState.

The reference codec is logically a streaming operator with five scalars
of state per series (SURVEY.md §1.3). The streaming twin buffers the raw
points of each (conv_id, UTC day) group in state and seals them on one
of two triggers:

- event time (``stream_encode_blocks_eventtime``): the day seals as one
  block once the watermark passes its end — the batch-equivalent policy;
- count (``stream_encode_blocks``): every full ``points_per_block``
  chunk seals at once, and the remainder seals when the group has been
  quiet for ``timeout_ms`` of processing time.

A sealed block is an ordinary store row: the sealer orders the points
by the batch encoder's keys (turn_idx, ts) and builds BLOCKS_SCHEMA rows
with the batch builder, operators/encode._block_frame, aggregates
included.  An event-time day block is therefore byte-identical to the
batch block of the same point set, and sealed rows go straight into
compaction, the audit and the zero-decode day tier.

A count-sealed chunk takes the batch encoder's sub-block rule for its
seq: its first turn_idx // points_per_block (the event-time sealer's one
block per day keeps seq = 0).  The whole buffer is sorted by
(turn_idx, ts) before it is cut, so the chunks cut from one buffer
start at least points_per_block turns apart and their identities
(conv_id, channel, block_start, seq) are distinct; where a day's turns
run contiguously from a multiple of points_per_block, the chunks equal
the batch encoder's blocks.  Membership follows arrival batching, so it
is deterministic when data arrives in turn order, the normal case.  A
turn that arrives after its chunk has sealed lands in a later chunk,
which may then share that chunk's seq until compaction merges them.

State carries raw (ts, bits, turn) arrays, NOT codec state: Gorilla's
27-bit first delta makes day blocks self-contained, and raw buffering
keeps state replayable across restarts (checkpointed by the state store).
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.encode import BLOCKS_SCHEMA, DAY_MS, _block_frame

STATE_SCHEMA = T.StructType([
    T.StructField("ts", T.ArrayType(T.LongType())),
    T.StructField("vbits", T.ArrayType(T.LongType())),
    T.StructField("turn", T.ArrayType(T.LongType())),
])


def _seal(conv_id: str, day: int, ts: np.ndarray, vb: np.ndarray,
          turn: np.ndarray, size: int | None = None) -> pd.DataFrame:
    """BLOCKS_SCHEMA rows of buffered points in (turn_idx, ts) order,
    cut into blocks of ``size`` points, each with the batch encoder's
    seq = first turn_idx // size (one block with seq = 0 when None)."""
    order = np.lexsort((ts, turn))
    step = size or len(ts)
    starts = np.arange(0, len(ts), step, dtype=np.int64)
    counts = np.minimum(step, len(ts) - starts)
    seq = turn[order][starts] // step if size else np.zeros(len(starts))
    return _block_frame(conv_id, "len", "double",
                        np.full(len(starts), day * DAY_MS, np.int64),
                        seq.astype(np.int32), starts, counts,
                        ts[order], vb[order].view(np.uint64))


def _make_state_fn(points_per_block: int | None = None,
                   timeout_ms: int = 60_000):
    """The sealer: ``points_per_block=None`` seals each day on the
    watermark; otherwise full chunks seal at once and the remainder
    after ``timeout_ms`` of processing-time quiet."""
    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        conv_id, day = key[0], int(key[1])
        if state.hasTimedOut:
            buf = [np.asarray(c, np.int64) for c in state.get]
            state.remove()
            if len(buf[0]):
                yield _seal(conv_id, day, *buf, points_per_block)
            return
        parts = [state.get if state.exists else ([], [], [])]
        parts += [(p["ts_ms"].to_numpy(np.int64),
                   p["v"].to_numpy(np.float64).view(np.int64),
                   p["turn_idx"].to_numpy(np.int64)) for p in pdf_iter]
        ts, vb, tn = (np.concatenate([np.asarray(p[i], np.int64)
                                      for p in parts]) for i in range(3))
        sealed = None
        if points_per_block and len(ts) >= points_per_block:
            # sort the WHOLE buffer by the batch keys before cutting, so
            # chunk membership follows (turn, ts) order rather than raw
            # arrival order across microbatches
            order = np.lexsort((ts, tn))
            ts, vb, tn = ts[order], vb[order], tn[order]
            full = len(ts) - len(ts) % points_per_block
            sealed = _seal(conv_id, day, ts[:full], vb[:full], tn[:full],
                           points_per_block)
            ts, vb, tn = ts[full:], vb[full:], tn[full:]
        state.update((ts.tolist(), vb.tolist(), tn.tolist()))
        if points_per_block:
            state.setTimeoutDuration(timeout_ms)
        else:
            # seal when the watermark passes end-of-day; if the group
            # got (late) data with the watermark already beyond that,
            # time out on the very next watermark advance instead
            state.setTimeoutTimestamp(
                max((day + 1) * DAY_MS, state.getCurrentWatermarkMs() + 1))
        if sealed is not None:
            yield sealed

    return fn


def _sealed_blocks(transcripts_stream: DataFrame, fn,
                   timeout_conf: str, *extra: str) -> DataFrame:
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    pts = transcripts_stream.select(
        "conv_id",
        F.floor(ts_ms / DAY_MS).cast("long").alias("day"),
        ts_ms.alias("ts_ms"),
        F.length("text").cast("double").alias("v"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        *extra)
    return pts.groupBy("conv_id", "day").applyInPandasWithState(
        fn,
        outputStructType=BLOCKS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def stream_encode_blocks_eventtime(transcripts_stream: DataFrame,
                                   delay: str = "10 minutes") -> DataFrame:
    """transcripts stream → Gorilla day blocks sealed by WATERMARK.

    Each (conv_id, day) block is emitted exactly once, when event time
    has provably moved past that day (watermark > end-of-day): the
    streaming twin of the batch (conv, day) blocking, with late-data
    tolerance ``delay``.  Bounded replays need one far-future sentinel
    row to advance the final watermark (same trick as
    rollup_stream.stream_rollup_1m)."""
    return _sealed_blocks(transcripts_stream.withWatermark("ts", delay),
                          _make_state_fn(),
                          GroupStateTimeout.EventTimeTimeout, "ts")


def stream_encode_blocks(transcripts_stream: DataFrame,
                         points_per_block: int = 65_536,
                         timeout_ms: int = 60_000) -> DataFrame:
    """transcripts stream → sealed Gorilla block stream ('len' channel)."""
    return _sealed_blocks(transcripts_stream,
                          _make_state_fn(points_per_block, timeout_ms),
                          GroupStateTimeout.ProcessingTimeTimeout)
