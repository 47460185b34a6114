"""v1 (64-bit) and 32-bit value-only Gorilla codecs as Spark operators.

The reference fork's ``Compressor``/``Compressor32`` strip timestamps
entirely and terminate the stream with a canonical NaN
(Compressor.java:63-67, Compressor32.java:133-137) — so these channels
cannot store NaN payloads (SURVEY.md §1.2). The engine exposes them as
per-series value-stream blocks: order is pinned by (ts, event_id) at
encode time and reproduced as an explicit ``idx`` on decode, which is
what makes the round trip SQL-checkable against a row_number() oracle.

One shuffle keyed by series; blocks are tiny rows; decode is narrow.
The bits come from the codec entry points (codec/batch.py).
"""
from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codec.batch import decode_values_partition, encode_values_partition

#: sub-block cap: a hot series splits into (series, seq) blocks of at
#: most this many points, so no single task or payload grows unbounded
#: (same policy as encode.py's day/seq sub-blocking)
BLOCK_CAP = 4096

V1_BLOCKS_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("seq", T.LongType()),
    T.StructField("word", T.IntegerType()),
    T.StructField("n_points", T.IntegerType()),
    T.StructField("n_bits", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("crc", T.LongType()),
])

V1_POINTS_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("idx", T.LongType()),
    T.StructField("v", T.DoubleType()),
])

V32_POINTS_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("idx", T.LongType()),
    T.StructField("v", T.FloatType()),
])


def _series_values(events: DataFrame, cap: int) -> DataFrame:
    """(series, seq, idx, value): per-series order pinned by (ts,
    event_id), split into ≤cap-point sub-blocks.  One shuffle (the
    row_number window), reused by the groupBy since (series, seq) is a
    function of the window's partition key."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("series"),
        (F.row_number().over(w) - 1).cast("long").alias("idx"),
        F.col("value")).withColumn("seq", (F.col("idx") / cap).cast("long"))


def _encode_kernel(word: int):
    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx", kind="mergesort")
        vals = pdf["value"].to_numpy(np.float64)
        if word == 64:
            bits = vals.view(np.uint64)
        else:
            bits = vals.astype(np.float32).view(np.uint32).astype(np.uint64)
        (payload,), (n_bits,) = encode_values_partition(
            np.array([0], np.int64), np.array([len(bits)], np.int64),
            bits, word)
        return pd.DataFrame([(key[0], key[1], word, len(bits),
                              int(n_bits), payload, zlib.crc32(payload))],
                            columns=[f.name for f in V1_BLOCKS_SCHEMA.fields])
    return kernel


def encode_valueonly(events: DataFrame, word: int = 64,
                     cap: int = BLOCK_CAP) -> DataFrame:
    """events → value-only blocks per (user series, seq) (v1 format)."""
    assert word in (64, 32)
    return _series_values(events, cap).groupBy("series", "seq").applyInPandas(
        _encode_kernel(word), schema=V1_BLOCKS_SCHEMA)


def _decode_iter(pdf_iter, word: int, cap: int):
    for pdf in pdf_iter:
        vb, lens = decode_values_partition(
            [bytes(p) for p in pdf["payload"].tolist()],
            pdf["n_points"].to_numpy(np.int64), word)
        if not len(vb):
            continue
        idx = (np.repeat(pdf["seq"].to_numpy(np.int64), lens) * cap
               + _within_run_index(lens))
        yield pd.DataFrame({
            "series": np.repeat(pdf["series"].to_numpy(), lens),
            "idx": idx,
            "v": (vb.view(np.float64) if word == 64 else
                  vb.astype(np.uint32).view(np.float32)),
        })


def _within_run_index(lens: np.ndarray) -> np.ndarray:
    """0..len-1 within each run, vectorized."""
    total = int(lens.sum())
    out = np.arange(total, dtype=np.int64)
    run_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    out -= np.repeat(run_starts, lens)
    return out


def decode_valueonly(blocks: DataFrame, word: int = 64,
                     cap: int = BLOCK_CAP) -> DataFrame:
    schema = V1_POINTS_SCHEMA if word == 64 else V32_POINTS_SCHEMA
    return blocks.select("series", "seq", "n_points", "payload").mapInPandas(
        lambda it: _decode_iter(it, word, cap), schema=schema)
