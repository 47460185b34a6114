"""Block-store integrity audit — the maintenance job a block store
runs over object storage before trusting a tier.

Checks, per block:

- ``ok_crc``     stored crc32 matches the payload — a pure JVM column
                 expression (Spark's ``crc32`` is the same IEEE 802.3
                 polynomial as the zlib crc the encoders store), so
                 the cheap pass never leaves whole-stage codegen;
- ``ok_len``     payload byte length == ceil(n_bits / 8);
- ``ok_span``    first_ts <= last_ts, n_points > 0 and
                 agg_cnt == n_points;
- ``ok_decode``  the payload decodes to exactly n_points points whose
                 timestamps match [first_ts, last_ts] (bounded native
                 batch decode; a corrupt batch degrades to per-block
                 isolation so one bad payload can't mask its
                 neighbours);
- ``ok_aggs``    cnt/min/max/sum recomputed from the decoded points
                 equal the block's stored aggregates bit-for-bit
                 (decode order == encode order, so the float sums are
                 reproducible exactly).  Every block is checked:
                 batch, compacted and stream-sealed blocks all carry
                 their aggregates.  A NULL aggregate reads as NaN, so
                 it fails unless the recomputed one is NaN too.

``audit_blocks`` returns one row per audited block (all five booleans
plus identity), so a warehouse job can write the failures to a
quarantine table; ``audit_summary`` folds them into one counters row.
``sample_pct`` picks a deterministic hash-based sample of blocks —
at 100 TB the nightly audit reads a few percent, rotating by seed.
The sample hashes the block identity (conv_id, channel, block_start,
seq), which is distinct per block: count-sealed stream chunks carry
the batch encoder's seq = first turn_idx // points_per_block.

The audit is read-only and embarrassingly parallel: no shuffle at all
— metadata checks are scan-side expressions, the decode check is a
narrow mapInPandas over the same partitioning the scan provides, and
``pipeline.read_blocks`` is a plain scan (plan pinned in
tests/test_plan_budget.py).  The kernel decodes a whole Arrow batch in
one native call and derives ok_decode/ok_aggs with segment reductions
over the flat decode.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codec.batch import decode_partition
from ..codec.gorilla import dfcm_table_size

AUDIT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("channel", T.StringType()),
    T.StructField("block_start", T.LongType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("ok_crc", T.BooleanType()),
    T.StructField("ok_len", T.BooleanType()),
    T.StructField("ok_span", T.BooleanType()),
    T.StructField("ok_decode", T.BooleanType()),
    T.StructField("ok_aggs", T.BooleanType()),
])


def _decode_one(payload: bytes, expected: int, predictor: str | None):
    """Bounded single-block decode → (ts, bits) or None on corruption."""
    try:
        ts, bits, _ = decode_partition([payload],
                                       np.array([expected], np.int64),
                                       predictor)
        return ts, bits
    except Exception:
        return None


def _feq(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    # NaN aggregates of NaN data are valid; NaN != NaN would false-flag
    # them
    return (x == y) | (np.isnan(x) & np.isnan(y))


def _decode_flags(pdf: pd.DataFrame, ts: np.ndarray, vb: np.ndarray,
                  lens: np.ndarray):
    """ok_decode and ok_aggs of every block of a batch from its decoded
    points (ts / value words of all blocks concatenated, ``lens`` per
    block), as segment reductions over the flat arrays."""
    expected = pdf["n_points"].to_numpy(np.int64)
    has = lens > 0
    starts = (np.cumsum(lens) - lens)[has]
    ends_ok = np.ones(len(lens), dtype=bool)
    ends_ok[has] = ((ts[starts] == pdf["first_ts"].to_numpy(np.int64)[has])
                    & (ts[starts + lens[has] - 1]
                       == pdf["last_ts"].to_numpy(np.int64)[has]))
    ok_decode = (lens == expected) & ends_ok

    ok_cnt = pdf["agg_cnt"].to_numpy() == lens
    ok_vals = np.zeros(len(lens), dtype=bool)
    if has.any():
        is_double = np.repeat(pdf["kind"].to_numpy() == "double", lens)
        vals = np.where(is_double, vb.view(np.float64),
                        vb.view(np.int64).astype(np.float64))
        a_min, a_max, a_sum = (pdf[c].to_numpy(np.float64)[has]
                               for c in ("agg_min", "agg_max", "agg_sum"))
        # np.add.reduceat is the sequential fold every encode kernel
        # uses — ndarray.sum's pairwise algorithm differs in the last
        # ulp on 2^63-magnitude data
        ok_vals[has] = (_feq(a_min, np.minimum.reduceat(vals, starts))
                        & _feq(a_max, np.maximum.reduceat(vals, starts))
                        & _feq(a_sum, np.add.reduceat(vals, starts)))
    return ok_decode, has & ok_cnt & ok_vals


def _audit_iter(pdf_iter, predictor: str | None = None):
    for pdf in pdf_iter:
        n = len(pdf)
        if n == 0:
            continue
        payloads = [bytes(p) for p in pdf["payload"]]
        expected = pdf["n_points"].to_numpy(np.int64)
        decoded = np.ones(n, dtype=bool)
        try:
            ts, vb, lens = decode_partition(payloads, expected, predictor)
        except Exception:
            # a corrupt member fails the batch: isolate per block so
            # one bad payload can't mask its neighbours
            parts = [_decode_one(payloads[i], int(expected[i]), predictor)
                     for i in range(n)]
            decoded = np.array([d is not None for d in parts])
            good = [d for d in parts if d is not None]
            ts = np.concatenate([d[0] for d in good] + [np.zeros(0, np.int64)])
            vb = np.concatenate([d[1] for d in good] + [np.zeros(0, np.uint64)])
            lens = np.array([len(d[0]) if d is not None else 0
                             for d in parts], dtype=np.int64)
        ok_decode, ok_aggs = _decode_flags(pdf, ts, vb,
                                           np.asarray(lens, np.int64))

        yield pd.DataFrame({
            "conv_id": pdf["conv_id"].to_numpy(),
            "channel": pdf["channel"].to_numpy(),
            "block_start": pdf["block_start"].to_numpy(np.int64),
            "seq": pdf["seq"].to_numpy(np.int32),
            "ok_crc": pdf["ok_crc"].to_numpy(bool),
            "ok_len": pdf["ok_len"].to_numpy(bool),
            "ok_span": pdf["ok_span"].to_numpy(bool),
            "ok_decode": ok_decode & decoded,
            "ok_aggs": ok_aggs & decoded,
        })

def audit_blocks(blocks: DataFrame, sample_pct: float = 100.0,
                 seed: int = 0, predictor: str | None = None) -> DataFrame:
    """One audit row per (sampled) block; no shuffle, read-only.
    ``predictor`` must match the store's encode-time predictor
    (default last-value; pass e.g. ``"dfcm1024"`` for a DFCM store —
    the same both-ends-agree contract as decode_blocks)."""
    # validate here: the kernel reads any decode error as corruption
    dfcm_table_size(predictor)
    df = blocks
    if sample_pct < 100.0:
        bucket = F.pmod(F.xxhash64("conv_id", "channel", "block_start",
                                   "seq", F.lit(seed)), F.lit(10_000))
        df = df.where(bucket < F.lit(int(sample_pct * 100)))
    # the metadata checks are scan-side expressions; the kernel only
    # decodes and passes them through
    flags = [
        F.coalesce(F.crc32("payload") == F.col("crc"),
                   F.lit(False)).alias("ok_crc"),
        F.coalesce(F.length("payload") == F.ceil(F.col("n_bits") / 8),
                   F.lit(False)).alias("ok_len"),
        F.coalesce((F.col("first_ts") <= F.col("last_ts"))
                   & (F.col("n_points") > 0)
                   & (F.col("agg_cnt") == F.col("n_points")),
                   F.lit(False)).alias("ok_span"),
    ]
    cols = ["conv_id", "channel", "kind", "block_start", "seq", "n_points",
            "payload", "first_ts", "last_ts", "agg_cnt", "agg_min",
            "agg_max", "agg_sum"]
    return (df.select(*cols, *flags)
            .mapInPandas(lambda it: _audit_iter(it, predictor),
                         schema=AUDIT_SCHEMA))

def audit_summary(audit: DataFrame) -> DataFrame:
    """Fold audit rows into one counters row (single partial-agg)."""
    flags = ["ok_crc", "ok_len", "ok_span", "ok_decode", "ok_aggs"]
    aggs = [F.count(F.lit(1)).alias("n_blocks")]
    aggs += [F.sum(F.when(~F.col(c), 1).otherwise(0)).alias(f"bad_{c[3:]}")
             for c in flags]
    return audit.agg(*aggs)
