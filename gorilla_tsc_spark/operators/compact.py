"""Block compaction: many small blocks → few span-auto blocks.

Why this operator exists at 100 TB: both the streaming encoder (one
block per (conv, day) seal) and day-aligned batch encode of sparse
conversations produce LOTS of small blocks, and every block pays the
~190-bit header/terminator plus a parquet row of metadata.  Compaction
is the background maintenance job every block store runs (the same role
as Iceberg rewrite_data_files or a TSDB's chunk merge): decode each
(conv_id, channel)'s blocks, merge the points, and re-encode under the
span='auto' profile — splitting only where a timestamp step would
overflow the 32-bit delta-of-delta bucket (>= GAP_SPLIT_MS, the same
rule as the batch auto profile; dod buckets per
ValueCompressor.java/README format, see operators/encode.py).

Plan shape: ONE shuffle keyed (conv_id, channel) + partition-local
sort, then a partition-batched mapInPandas kernel that decodes every
payload in one native call and re-encodes every output block in one
native call.  Compacted blocks carry the same per-UTC-day sub-aggregate
arrays as batch span-auto blocks, so the day tier still rolls up from
block METADATA with zero decode after compaction.

The scan, the shuffle and the kernel's Arrow input carry only the six
columns the kernel reads (``KERNEL_COLS``) plus the sort key
``first_ts``, which is dropped after the sort.  The 14 metadata
columns are rebuilt from the decoded points; shipping them would cost
more than bytes: Spark checks the Arrow batch size after every row,
and on the day_* list columns, NULL on every day-aligned block, each
check re-walks every offset written so far, so one batch costs
O(rows^2) JVM time (docs/ARCHITECTURE.md, the Arrow boundary).

Streaming-sealed blocks are ordinary store rows (the sealer builds
them with the same ``_block_frame``), so the sweep reads them as they
are: count-sealed chunks of one (conv, day) carry the batch seq rule
and merge here into one series of span-auto blocks.

Identity contract (pytest-gated): decode(compact(B)) == decode(B) as a
point set, and the day tier from compacted metadata equals the day tier
from the original blocks.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..codec.batch import decode_partition
from .encode import BLOCKS_SCHEMA, DAY_MS, GAP_SPLIT_MS, _block_frame, _day_runs

# the kernel's Arrow input: exactly the columns _compact_pdf reads
KERNEL_COLS = ("conv_id", "channel", "kind", "seq", "n_points", "payload")


def _compact_iter(pdf_iter, drop_range=None, predictor=None, lww_seq=None):
    """mapInPandas kernel.  Arrow may split one partition into many
    batches; a (conv_id, channel) series straddling a batch boundary
    would otherwise emit two compacted blocks with the SAME identity
    (conv, channel, block_start, seq=0) — so each batch holds back its
    final series and prepends it to the next batch (flushed at end)."""
    carry = None
    for pdf in pdf_iter:
        if carry is not None:
            pdf = pd.concat((carry, pdf), ignore_index=True)
            carry = None
        if len(pdf) == 0:
            continue
        conv = pdf["conv_id"].to_numpy()
        chan = pdf["channel"].to_numpy()
        last = (conv == conv[-1]) & (chan == chan[-1])
        # rows of the final series = the contiguous True tail of `last`
        tail0 = len(pdf) - int(last[::-1].argmin()) if not last.all() else 0
        carry = pdf.iloc[tail0:].reset_index(drop=True)
        head = pdf.iloc[:tail0]
        if len(head):
            yield from _compact_pdf(head, drop_range, predictor, lww_seq)
    if carry is not None and len(carry):
        yield from _compact_pdf(carry, drop_range, predictor, lww_seq)


def _compact_pdf(pdf, drop_range=None, predictor=None, lww_seq=None):
    expected = pdf["n_points"].to_numpy(np.int64)
    ts, bits, _ = decode_partition([bytes(p) for p in pdf["payload"]],
                                   expected, predictor)

    # runs of (conv_id, channel) over the decoded point stream —
    # the partition is sorted by (conv_id, channel, first_ts, seq)
    # so each series is one contiguous run of blocks
    conv_b = pdf["conv_id"].to_numpy()
    chan_b = pdf["channel"].to_numpy()
    kind_b = pdf["kind"].to_numpy()
    blk_of_pt = np.repeat(np.arange(len(pdf)), expected)
    series_change = np.zeros(len(pdf), dtype=bool)
    series_change[0] = True
    series_change[1:] = (conv_b[1:] != conv_b[:-1]) | (chan_b[1:] != chan_b[:-1])
    series_id_b = np.cumsum(series_change) - 1
    series_id = series_id_b[blk_of_pt]

    # canonical in-series order: blocks arrive first_ts-sorted, but
    # seq sub-blocks of one day may interleave in time — a stable
    # per-series ts sort restores the canonical stream.  Under
    # last-write-wins backfill, late points (their staging blocks are
    # marked seq == lww_seq) sort after on-time points at equal ts so
    # "keep the last of each conflict run" keeps the late value.
    if lww_seq is not None:
        pri = (pdf["seq"].to_numpy(np.int64) == lww_seq)[blk_of_pt]
        order = np.lexsort((pri, ts, series_id))
        pri = pri[order]
    else:
        order = np.lexsort((ts, series_id))
    ts = ts[order]
    bits = bits[order]
    series_id = series_id[order]

    if drop_range is not None:
        # targeted purge: drop points with t0 <= ts < t1 before the
        # re-split, so a fully-purged series emits no block at all
        t0, t1 = drop_range
        keep = (ts < t0) | (ts >= t1)
        ts, bits, series_id = ts[keep], bits[keep], series_id[keep]
        if lww_seq is not None:
            pri = pri[keep]

    if lww_seq is not None and len(ts):
        # last-write-wins: within each equal-(series, ts) run that
        # contains at least one LATE point, keep only the run's last
        # point (a late one, by the sort above).  Runs with no late
        # member — pre-existing duplicate timestamps the caller never
        # touched — pass through intact.
        new_run = np.ones(len(ts), dtype=bool)
        new_run[1:] = ((series_id[1:] != series_id[:-1])
                       | (ts[1:] != ts[:-1]))
        run_id = np.cumsum(new_run) - 1
        run_has_late = np.zeros(run_id[-1] + 1, dtype=bool)
        run_has_late[run_id[pri]] = True
        last_of_run = np.ones(len(ts), dtype=bool)
        last_of_run[:-1] = new_run[1:]
        keep = ~run_has_late[run_id] | last_of_run
        ts, bits, series_id = ts[keep], bits[keep], series_id[keep]

    n = len(ts)
    if n == 0:
        return
    is_start = np.zeros(n, dtype=bool)
    is_start[0] = True
    is_start[1:] = series_id[1:] != series_id[:-1]
    gap = np.zeros(n, dtype=bool)
    gap[1:] = (ts[1:] - ts[:-1]) >= GAP_SPLIT_MS
    brk = is_start | gap
    starts = np.flatnonzero(brk).astype(np.int64)
    counts = np.diff(np.concatenate((starts, [n]))).astype(np.int64)

    first_block_of_series = np.flatnonzero(series_change)
    blk_first = first_block_of_series[series_id[starts]]
    yield _block_frame(conv_b[blk_first], chan_b[blk_first],
                       kind_b[blk_first], (ts[starts] // DAY_MS) * DAY_MS,
                       np.zeros(len(starts), dtype=np.int32), starts, counts,
                       ts, bits, _day_runs(ts, starts, counts), predictor)


def compact_blocks(blocks: DataFrame,
                   shuffle_partitions: int | None = None,
                   drop_range: tuple[int, int] | None = None,
                   predictor: str | None = None,
                   lww_late_seq: int | None = None) -> DataFrame:
    """gorilla_blocks (any mix of day/auto/streaming blocks) →
    compacted span-auto blocks, one shuffle keyed (conv_id, channel).
    ``predictor`` must match the store's encode-time predictor (as for
    decode_blocks/audit) — decoding a DFCM store as last_value would
    silently rewrite garbage.

    At warehouse scale this runs as a maintenance job over one
    partition of the block store at a time (e.g. per conv_id bucket);
    block metadata (first_ts/n_points) is all the planner needs — the
    payload bytes move exactly once.  AQE coalesces that shuffle to a
    partition count that fits its bytes; ``shuffle_partitions`` pins
    the count instead.

    ``drop_range=(t0_ms, t1_ms)`` additionally drops every decoded
    point with t0 <= ts < t1 before re-encoding — the copy-on-write
    rewrite step of a targeted purge (see ``operators/purge.py``).  A
    series whose points are all inside the range emits no block.

    ``lww_late_seq=S`` enables last-write-wins conflict resolution for
    backfill ingest (see ``operators/backfill.py``): input blocks whose
    ``seq`` equals S are LATE staging blocks, and wherever a late point
    shares a timestamp with an on-time point of the same series, only
    the late value survives.  Equal-ts runs with no late member pass
    through untouched.
    """
    # a numbered repartition is never coalesced, and each Python task
    # of the kernel costs a fixed ~0.1 CPU-s (4-core host), rows or not
    n = () if shuffle_partitions is None else (shuffle_partitions,)
    arranged = (blocks
                .select(*KERNEL_COLS, "first_ts")
                .repartition(*n, "conv_id", "channel")
                .sortWithinPartitions("conv_id", "channel", "first_ts", "seq")
                .select(*KERNEL_COLS))
    return arranged.mapInPandas(
        lambda it: _compact_iter(it, drop_range, predictor, lww_late_seq),
        schema=BLOCKS_SCHEMA)
