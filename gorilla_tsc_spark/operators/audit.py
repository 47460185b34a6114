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
                 reproducible exactly); NULL aggregates (streaming
                 seals pre-compaction) pass vacuously.

``audit_blocks`` returns one row per audited block (all five booleans
plus identity), so a warehouse job can write the failures to a
quarantine table; ``audit_summary`` folds them into one counters row.
``sample_pct`` picks a deterministic hash-based sample of blocks —
at 100 TB the nightly audit reads a few percent, rotating by seed.

The audit is read-only and embarrassingly parallel: no shuffle at all
— metadata checks are scan-side expressions, the decode check is a
narrow mapInPandas over the same partitioning the scan provides.
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


def _audit_iter(pdf_iter, predictor: str | None = None):
    for pdf in pdf_iter:
        n = len(pdf)
        if n == 0:
            continue
        payloads = [bytes(p) for p in pdf["payload"]]
        expected = pdf["n_points"].to_numpy(np.int64)
        first = pdf["first_ts"].to_numpy(np.int64)
        last = pdf["last_ts"].to_numpy(np.int64)

        ok_decode = np.zeros(n, dtype=bool)
        ok_aggs = np.zeros(n, dtype=bool)
        try:
            ts_all, vb_all, lens = decode_partition(payloads, expected,
                                                    predictor)
            bounds = np.concatenate(([0], np.cumsum(lens)))
            decoded = [(ts_all[bounds[i]:bounds[i + 1]],
                        vb_all[bounds[i]:bounds[i + 1]]) for i in range(n)]
        except Exception:
            # a corrupt member fails the batch: isolate per block so
            # one bad payload can't mask its neighbours
            decoded = [_decode_one(payloads[i], int(expected[i]), predictor)
                       for i in range(n)]

        kinds = pdf["kind"].to_numpy()
        a_cnt = pdf["agg_cnt"].to_numpy()
        a_null = pdf["agg_is_null"].to_numpy(bool)
        a_min = pdf["agg_min"].to_numpy()
        a_max = pdf["agg_max"].to_numpy()
        a_sum = pdf["agg_sum"].to_numpy()
        for i, d in enumerate(decoded):
            if d is None:
                continue
            ts, vb = d
            ok_decode[i] = (len(ts) == expected[i]
                            and (len(ts) == 0
                                 or (int(ts[0]) == first[i]
                                     and int(ts[-1]) == last[i])))
            if a_null[i]:             # streaming seal pre-compaction
                # (promote_stream_blocks leaves min/max/sum SQL-NULL by
                # design; a genuine NaN aggregate is NOT exempt — the
                # JVM-side agg_is_null flag distinguishes them, since
                # Arrow renders both as NaN here).  Counts must still
                # be consistent even on a sealed-not-compacted block.
                ok_aggs[i] = int(a_cnt[i]) == len(ts)
                continue
            vals = (vb.view(np.float64) if kinds[i] == "double"
                    else vb.view(np.int64).astype(np.float64))
            # sequential fold (np.add.reduceat), the same summation
            # order every encode kernel uses — ndarray.sum's pairwise
            # algorithm differs in the last ulp on 2^63-magnitude data
            def _feq(x, y):
                # NaN aggregates of NaN data are valid; NaN != NaN
                # would false-flag them
                return bool(x == y or (np.isnan(x) and np.isnan(y)))

            ok_aggs[i] = bool(
                len(vals)
                and int(a_cnt[i]) == len(vals)
                and _feq(np.float64(a_min[i]), vals.min())
                and _feq(np.float64(a_max[i]), vals.max())
                and _feq(np.float64(a_sum[i]),
                         np.add.reduceat(vals, [0])[0]))

        yield pd.DataFrame({
            "conv_id": pdf["conv_id"].to_numpy(),
            "channel": pdf["channel"].to_numpy(),
            "block_start": pdf["block_start"].to_numpy(np.int64),
            "seq": pdf["seq"].to_numpy(np.int32),
            "ok_crc": pdf["ok_crc"].to_numpy(bool),
            "ok_len": pdf["ok_len"].to_numpy(bool),
            "ok_span": pdf["ok_span"].to_numpy(bool),
            "ok_decode": ok_decode,
            "ok_aggs": ok_aggs,
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
    # SQL NULL vs genuine NaN must be distinguished JVM-side: Arrow
    # renders both as NaN in a float64 pandas column, and the kernel's
    # streaming-seal exemption keys on NULLness — a real NaN aggregate
    # (NaN data values) must still be recomputed and checked
    return (df.select(*cols, *flags,
                      F.isnull("agg_min").alias("agg_is_null"))
            .mapInPandas(lambda it: _audit_iter(it, predictor),
                         schema=AUDIT_SCHEMA))

def audit_summary(audit: DataFrame) -> DataFrame:
    """Fold audit rows into one counters row (single partial-agg)."""
    flags = ["ok_crc", "ok_len", "ok_span", "ok_decode", "ok_aggs"]
    aggs = [F.count(F.lit(1)).alias("n_blocks")]
    aggs += [F.sum(F.when(~F.col(c), 1).otherwise(0)).alias(f"bad_{c[3:]}")
             for c in flags]
    return audit.agg(*aggs)
