"""Correctness references for the benchmark, computed without Spark.

Points are compared as multisets through an order-insensitive digest:
each point (conversation, channel, ts, value bits) is mixed into a
64-bit hash, and a set of points is (count, wrapping sum, xor) of its
hashes.  The expected side comes from the generator's NumPy arrays; the
actual side from the engine's parquet output, decoded with the
engine's own codec entry point (``codec.native.decode_many``).
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

CHANNELS = ("len", "words", "text_hash")
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, element-wise on uint64 (wrapping)."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def digest(conv: np.ndarray, chan: np.ndarray, ts: np.ndarray,
           bits: np.ndarray) -> tuple:
    """Order-insensitive digest of a point multiset; ``conv`` and
    ``chan`` are integer codes, ``bits`` the raw 64-bit value."""
    with np.errstate(over="ignore"):
        h = _mix(conv.astype(np.uint64) * np.uint64(4) + chan.astype(np.uint64))
        h = _mix(h ^ ts.astype(np.int64).view(np.uint64))
        h = _mix(h ^ bits.astype(np.uint64, copy=False))
        return (len(h), int(np.add.reduce(h, dtype=np.uint64)),
                int(np.bitwise_xor.reduce(h)) if len(h) else 0)


class Reference:
    """Expected channel values of a corpus, as the engine derives them:
    ``len`` = text length (double), ``words`` = whitespace-split word
    count (long), ``text_hash`` = Spark ``xxhash64(text)`` (long, looked
    up per pooled text)."""

    def __init__(self, corpus, text_hash: np.ndarray) -> None:
        texts = corpus.texts
        tlen = np.array([len(t) for t in texts], np.float64)
        twords = np.array([len(t.split()) for t in texts], np.int64)
        idx = corpus.text_idx
        self.conv = corpus.conv
        self.ts = corpus.ts_ms
        self.values = {
            "len": tlen[idx].view(np.uint64),
            "words": twords[idx].view(np.uint64),
            "text_hash": text_hash[idx].view(np.uint64),
        }
        self.v_len = tlen[idx]
        self.v_words = twords[idx].astype(np.float64)

    def digest(self, mask: np.ndarray | None = None) -> tuple:
        """Digest of every channel's points (of the turns in ``mask``)."""
        sel = slice(None) if mask is None else mask
        conv, ts = self.conv[sel], self.ts[sel]
        return digest(np.tile(conv, len(CHANNELS)),
                      np.repeat(np.arange(len(CHANNELS)), len(ts)),
                      np.tile(ts, len(CHANNELS)),
                      np.concatenate([self.values[c][sel] for c in CHANNELS]))

    def agg_sum(self) -> float:
        """Exact sum of every tier-aggregated value (integer-valued
        doubles far below 2^53, so the sum is order-independent)."""
        return float(self.v_len.sum() + self.v_words.sum())


def merged(a: Reference, b: Reference) -> Reference:
    """Reference of the union of two batches."""
    out = object.__new__(Reference)
    out.conv = np.concatenate((a.conv, b.conv))
    out.ts = np.concatenate((a.ts, b.ts))
    out.values = {c: np.concatenate((a.values[c], b.values[c])) for c in CHANNELS}
    out.v_len = np.concatenate((a.v_len, b.v_len))
    out.v_words = np.concatenate((a.v_words, b.v_words))
    return out


def conv_codes(conv_ids) -> np.ndarray:
    """'c0000123' -> 123 (the generator's conversation number)."""
    return pc.cast(pc.utf8_slice_codeunits(conv_ids, 1), "int64").to_numpy()


def chan_codes(channels) -> np.ndarray:
    out = np.full(len(channels), -1, np.int64)
    ch = np.asarray(channels.to_pylist() if hasattr(channels, "to_pylist")
                    else channels, dtype=object)
    for i, c in enumerate(CHANNELS):
        out[ch == c] = i
    return out


def read_blocks_table(path: str):
    """A block table written by the engine, straight from its parquet
    files (the benchmark never crashes mid-write, so no duplicates)."""
    return ds.dataset(path, format="parquet").to_table(
        columns=["conv_id", "channel", "block_start", "n_points", "first_ts",
                 "last_ts", "payload"])


def decode_table(blocks, decode_many) -> tuple:
    """Decode every block with the engine's batch decoder; returns the
    point digest and the decoded point count."""
    payloads = [p.as_py() for p in blocks.column("payload").combine_chunks()]
    n_points = blocks.column("n_points").to_numpy().astype(np.int64)
    ts, bits, lens = decode_many(payloads, n_points)
    conv = np.repeat(conv_codes(blocks.column("conv_id")), lens)
    chan = np.repeat(chan_codes(blocks.column("channel")), lens)
    return digest(conv, chan, ts, bits), int(lens.sum())


def tier_totals(path: str) -> tuple:
    """(sum(cnt), sum(vsum)) of a rollup tier table."""
    t = ds.dataset(path, format="parquet").to_table(columns=["cnt", "vsum"])
    return (int(pc.sum(t.column("cnt")).as_py() or 0),
            float(pc.sum(t.column("vsum")).as_py() or 0.0))


def covered_points(path: str) -> int:
    """Points a family table covers: ``sum(n)``, or ``sum(cnt)`` for
    the smoothed serve."""
    d = ds.dataset(path, format="parquet")
    col = "n" if "n" in d.schema.names else "cnt"
    return int(pc.sum(d.to_table(columns=[col]).column(col)).as_py() or 0)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
