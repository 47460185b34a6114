"""Gorilla block encode/decode as Arrow-batched Spark operators.

Layout decisions (scale rationale):

- One block per (conv_id, channel, UTC day, seq). Day blocks satisfy the
  reference's 27-bit first-delta constraint (ms offsets within a day are
  < 2^27, GorillaCompressor.java:18, README.adoc:145-146). ``seq``
  sub-blocks cap points-per-block (default 65 536) so a hot conversation
  never creates a straggler task or an unbounded kernel buffer — this is
  deterministic salting that preserves block decodability.
- Channels are computed JVM-side BEFORE the shuffle; only numeric rows
  (conv_id, day, seq, turn_idx, ts_ms, channel values) are shuffled —
  at 10^12 turns the text never moves.
- The encode kernel is mapInPandas over packed block rows (one row per
  block with array columns, ``pack_blocks``): inside it
  codec/batch.encode_partition encodes every block of the Arrow batch
  in one native call, and ``_block_frame`` assembles the block rows.
  No per-row Python crosses Spark.
- Blocks carry value-domain pre-aggregates (cnt/min/max/sum) so rollup
  tiers can be produced from block metadata without decoding — the
  continuous-aggregate fast path; decode-verify cross-checks it.
"""
from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codec.batch import decode_partition, encode_partition
from ..functions.channels import Channel, default_channels

DAY_MS = 86_400_000
# span="auto" block splitting: a step between consecutive points must
# fit the codec's 32-bit delta; split with safety margin (~23 days)
GAP_SPLIT_MS = 2_000_000_000

BLOCKS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("channel", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("block_start", T.LongType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("n_points", T.IntegerType()),
    T.StructField("n_bits", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("first_ts", T.LongType()),
    T.StructField("last_ts", T.LongType()),
    T.StructField("agg_cnt", T.LongType()),
    T.StructField("agg_min", T.DoubleType()),
    T.StructField("agg_max", T.DoubleType()),
    T.StructField("agg_sum", T.DoubleType()),
    # per-UTC-day sub-aggregates (parallel arrays, one entry per day
    # touched by the block) — they let span="auto" multi-day blocks
    # serve the day tier with zero decode.  Day-aligned blocks carry
    # NULLs here (their entry would duplicate block_start/agg_*);
    # readers coalesce (rollup.rollup_from_day_subaggs).
    T.StructField("day_buckets", T.ArrayType(T.LongType())),
    T.StructField("day_cnt", T.ArrayType(T.LongType())),
    T.StructField("day_min", T.ArrayType(T.DoubleType())),
    T.StructField("day_max", T.ArrayType(T.DoubleType())),
    T.StructField("day_sum", T.ArrayType(T.DoubleType())),
    T.StructField("crc", T.LongType()),
])

POINTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("channel", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("v_double", T.DoubleType()),
    T.StructField("v_long", T.LongType()),
])


def points_for_encode(transcripts: DataFrame, channels: list[Channel] | None = None,
                      points_per_block: int = 65_536,
                      span: str = "day") -> DataFrame:
    """Project transcripts down to the numeric rows the encoder shuffles.

    span="day": one block group per (conv, UTC day, seq) — blocks are
    day-aligned so the day tier can aggregate block METADATA directly.
    span="auto": group per (conv, seq); the kernel splits only at
    >23-day gaps — far fewer blocks on sparse series (header/terminator
    overhead amortized), at the cost of the metadata-rollup fast path.
    """
    channels = channels or default_channels()
    ts_ms = F.unix_millis(F.col("ts"))
    day_col = (F.floor(ts_ms / DAY_MS).cast("long") if span == "day"
               else F.lit(0).cast("long"))
    return transcripts.select(
        F.col("conv_id"),
        ts_ms.alias("ts_ms"),
        day_col.alias("day"),
        (F.col("turn_idx").cast("long") / points_per_block).cast("int").alias("seq"),
        F.col("turn_idx"),
        *[c.expr().alias(f"ch_{c.name}") for c in channels],
    )


def _day_runs(ts: np.ndarray, starts: np.ndarray, counts: np.ndarray):
    """(sub_starts, sub_counts, split, bucket_ms) for per-day runs
    within each block.  ``split`` slices per-run arrays back into
    per-block lists via np.split; channel-independent."""
    n = len(ts)
    G = len(starts)
    db = ts // DAY_MS
    gid = np.repeat(np.arange(G, dtype=np.int64), counts)
    brk = np.ones(n, dtype=bool)
    brk[1:] = (gid[1:] != gid[:-1]) | (db[1:] != db[:-1])
    sub_starts = np.flatnonzero(brk).astype(np.int64)
    sub_counts = np.diff(np.concatenate((sub_starts, [n]))).astype(np.int64)
    runs_per_block = np.bincount(gid[sub_starts], minlength=G)
    split = np.cumsum(runs_per_block)[:-1]
    return sub_starts, sub_counts, split, db[sub_starts] * DAY_MS


def _none_day_cols(G_blocks: int) -> dict:
    """Null day_* cells for day-aligned blocks: their single per-day
    entry would just duplicate (block_start, agg_*), and 5 extra
    object-array cells per block row measurably tax the Arrow boundary
    at hundreds of thousands of blocks per partition.  Readers
    coalesce to the agg_* columns (rollup.rollup_from_day_subaggs)."""
    none = [None] * G_blocks
    return {"day_buckets": none, "day_cnt": none, "day_min": none,
            "day_max": none, "day_sum": none}


def _day_cols(vals: np.ndarray, sub_starts, sub_counts, split, bucket_ms):
    """The five day_* column cell-lists for one channel."""
    return {
        "day_buckets": np.split(bucket_ms, split),
        "day_cnt": np.split(sub_counts, split),
        "day_min": np.split(np.minimum.reduceat(vals, sub_starts), split),
        "day_max": np.split(np.maximum.reduceat(vals, sub_starts), split),
        "day_sum": np.split(np.add.reduceat(vals, sub_starts), split),
    }


_BLOCK_COLS = [f.name for f in BLOCKS_SCHEMA.fields]


def _block_frame(conv_id, channel, kind, block_ts, seq, starts, counts,
                 ts, bits, day_runs=None,
                 predictor: str | None = None) -> pd.DataFrame:
    """Encode the (starts, counts) runs of ``ts``/``bits`` and assemble
    their BLOCKS_SCHEMA rows.

    conv_id/channel/kind/seq are per-block arrays or scalars; ``kind``
    says how the value words read as numbers for the cnt/min/max/sum
    aggregates.  ``day_runs`` is ``_day_runs(ts, starts, counts)`` for
    blocks that may span days (their per-day sub-aggregates fill the
    day_* columns), or None for day-aligned blocks (NULL day_* cells).
    """
    payloads, nbits = encode_partition(starts, counts, block_ts, ts, bits,
                                       predictor)
    is_double = np.asarray(kind) == "double"
    if is_double.ndim:
        is_double = np.repeat(is_double, counts)
    vals = np.where(is_double, bits.view(np.float64),
                    bits.view(np.int64).astype(np.float64))
    return pd.DataFrame({
        "conv_id": conv_id,
        "channel": channel,
        "kind": kind,
        "block_start": block_ts,
        "seq": seq,
        "n_points": counts.astype(np.int32),
        "n_bits": nbits,
        "payload": payloads,
        "first_ts": ts[starts],
        "last_ts": ts[starts + counts - 1],
        "agg_cnt": counts,
        # sequential fold (reduceat): ONE reproducible agg_sum
        # algorithm store-wide (the integrity audit recomputes it
        # bit-for-bit, operators/audit.py)
        "agg_min": np.minimum.reduceat(vals, starts),
        "agg_max": np.maximum.reduceat(vals, starts),
        "agg_sum": np.add.reduceat(vals, starts),
        **(_none_day_cols(len(starts)) if day_runs is None
           else _day_cols(vals, *day_runs)),
        "crc": [zlib.crc32(p) for p in payloads],
    }, columns=_BLOCK_COLS)


def _encode_channels(chans, column, conv_id, block_ts, seq, starts, counts,
                     ts, day_runs=None, predictor: str | None = None):
    """One ``_block_frame`` per channel; ``column(name)`` gives the
    channel's per-point values."""
    frames = []
    for name, kind in chans:
        col = column(name)
        bits = (col.astype(np.float64) if kind == "double"
                else col.astype(np.int64)).view(np.uint64)
        frames.append(_block_frame(conv_id, name, kind, block_ts, seq,
                                   starts, counts, ts, bits, day_runs,
                                   predictor))
    return pd.concat(frames) if len(frames) > 1 else frames[0]


def encode_blocks(transcripts: DataFrame, channels: list[Channel] | None = None,
                  predictor: str | None = None, points_per_block: int = 65_536,
                  span: str = "day") -> DataFrame:
    """transcripts → gorilla_blocks. One shuffle, keyed (conv_id, day, seq),
    into the packed JVM-grouping kernel (``encode_points``)."""
    channels = channels or default_channels()
    pts = points_for_encode(transcripts, channels, points_per_block, span=span)
    return encode_points(pts, channels, predictor, span=span)


def _make_packed_kernel(channels: list[Channel], span: str = "day",
                        predictor: str | None = None):
    """Kernel over PRE-GROUPED block rows: each input row is one block
    with primitive array columns (ts + one per channel). The JVM→Python
    Arrow boundary costs ~2µs per ROW (row→columnar conversion), which
    does not scale with cores — so the engine ships ~N/50 block rows
    with array payloads instead of N point rows, and the transfer
    disappears from the critical path."""
    span_auto = span == "auto"
    chans = [(c.name, c.kind) for c in channels]

    def kernel(pdf_iter):
        for pdf in pdf_iter:
            G = len(pdf)
            if G == 0:
                continue
            ts_cells = pdf["ts_arr"].to_numpy()
            counts = np.fromiter((len(c) for c in ts_cells), np.int64, G)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            ts = np.concatenate(ts_cells).astype(np.int64)
            conv_arr = pdf["conv_id"].to_numpy()
            seq_arr = pdf["seq"].to_numpy(np.int32)
            day_runs = None
            if span_auto:
                # split only where a same-conv step would overflow the
                # 32-bit delta (≥ ~24.8 days), then re-derive each
                # sub-block's header day from its own first point
                n = len(ts)
                is_start = np.zeros(n, dtype=bool)
                is_start[starts] = True
                gap = np.zeros(n, dtype=bool)
                gap[1:] = (ts[1:] - ts[:-1]) >= GAP_SPLIT_MS
                brk = is_start | gap
                gidx = np.repeat(np.arange(G, dtype=np.int64), counts)
                starts = np.flatnonzero(brk).astype(np.int64)
                counts = np.diff(np.concatenate((starts, [n]))).astype(np.int64)
                conv_arr = conv_arr[gidx[starts]]
                seq_arr = seq_arr[gidx[starts]]
                g_bts = (ts[starts] // DAY_MS) * DAY_MS
                day_runs = _day_runs(ts, starts, counts)
            else:
                g_bts = pdf["day"].to_numpy(np.int64) * DAY_MS
            yield _encode_channels(
                chans,
                lambda name: np.concatenate(pdf[f"ch_{name}_arr"].to_numpy()),
                conv_arr, g_bts, seq_arr, starts, counts, ts, day_runs,
                predictor)

    return kernel


def pack_blocks(pts: DataFrame, channels: list[Channel]) -> DataFrame:
    """Group point rows into one row per block with primitive array
    columns, entirely JVM-side: collect_list of a struct whose leading
    fields are the canonical order key (turn_idx, ts_ms), sort_array
    (lexicographic ⇒ exactly that order), then per-field transform()
    to struct-of-arrays form that Arrow ships columnar."""
    chan_cols = [f"ch_{c.name}" for c in channels]
    struct_fields = [F.col("turn_idx").alias("o"), F.col("ts_ms").alias("t")]
    struct_fields += [F.col(c).alias(c) for c in chan_cols]
    packed = (
        pts.groupBy("conv_id", "day", "seq")
        .agg(F.sort_array(F.collect_list(F.struct(*struct_fields))).alias("p"))
    )
    return packed.select(
        "conv_id", "day", "seq",
        F.expr("transform(p, x -> x.t)").alias("ts_arr"),
        *[F.expr(f"transform(p, x -> x.{c})").alias(f"{c}_arr")
          for c in chan_cols],
    )


def encode_points(pts: DataFrame, channels: list[Channel],
                  predictor: str | None = None,
                  span: str = "day") -> DataFrame:
    """Encode pre-projected point rows (points_for_encode output).

    All predictors run through the packed JVM-grouping + batch-kernel
    path; the DFCM chain executes in the native C kernel
    (codec/_gorilla_kernel.c, DifferentialFCM.java:10-47 semantics)
    with the scalar Python codec as fallback/reference."""
    if predictor not in (None, "last_value") and span != "day":
        # the custom-predictor path derives block_ts from the day
        # column and does no gap splitting — under span="auto" day is
        # 0, so the first delta (~1.7e12 ms) would truncate to 27 bits
        # and silently corrupt the stream
        raise ValueError(
            f"span={span!r} requires the last_value predictor; "
            f"custom predictors only support span='day'")
    return pack_blocks(pts, channels).mapInPandas(
        _make_packed_kernel(channels, span=span, predictor=predictor),
        schema=BLOCKS_SCHEMA)


def _decode_iter(pdf_iter, predictor: str | None):
    for pdf in pdf_iter:
        # one codec call per Arrow batch, output presized from block
        # metadata (counts cross-checked, each block's decode bounded
        # by its n_points)
        ts_a, bits, lens = decode_partition(
            [bytes(p) for p in pdf["payload"]],
            pdf["n_points"].to_numpy(np.int64), predictor)
        if len(ts_a) == 0:
            continue
        kind = np.repeat(pdf["kind"].to_numpy(), lens)
        is_double = kind == "double"
        yield pd.DataFrame({
            "conv_id": np.repeat(pdf["conv_id"].to_numpy(), lens),
            "channel": np.repeat(pdf["channel"].to_numpy(), lens),
            "kind": kind,
            "ts_ms": ts_a,
            "v_double": np.where(is_double, bits.view(np.float64), np.nan),
            # keep exact int64 for long channels (xxhash64 > 2^53)
            "v_long": pd.arrays.IntegerArray(bits.view(np.int64).copy(),
                                             is_double),
        })


def decode_blocks(blocks: DataFrame, predictor: str | None = None,
                  verify_crc: bool = False) -> DataFrame:
    """gorilla_blocks → exploded points (narrow op: no shuffle).

    ``verify_crc=True`` checks each payload's stored crc32 BEFORE
    decoding (JVM-side filter-free projection; the check itself is a
    cheap zlib pass inside the kernel) and fails the task with the
    offending block identity — the read-path integrity gate a block
    store run over object storage wants.  Off by default: parquet
    already checksums pages, so the double-check is for long-lived
    archival tiers and restore jobs.
    """
    cols = ["conv_id", "channel", "kind", "n_points", "payload"]
    if not verify_crc:
        return blocks.select(*cols).mapInPandas(
            lambda it: _decode_iter(it, predictor), schema=POINTS_SCHEMA,
        )

    def checked(it):
        for pdf in it:
            crcs = pdf["crc"].to_numpy(np.int64)
            for i, p in enumerate(pdf["payload"]):
                got = zlib.crc32(bytes(p))
                if got != crcs[i]:
                    raise ValueError(
                        "crc mismatch on block "
                        f"(conv_id={pdf['conv_id'].iloc[i]!r}, "
                        f"channel={pdf['channel'].iloc[i]!r}): "
                        f"stored {crcs[i]}, computed {got}")
            yield pdf[cols]

    return (blocks.select(*cols, "crc")
            .mapInPandas(lambda it: _decode_iter(checked(it), predictor),
                         schema=POINTS_SCHEMA))


def block_value_column() -> F.Column:
    """Unified numeric view of a decoded point (doubles stay exact;
    long channels are integer-valued and exact up to 2^53)."""
    return F.when(F.col("kind") == "double", F.col("v_double")).otherwise(
        F.col("v_long").cast("double"))
