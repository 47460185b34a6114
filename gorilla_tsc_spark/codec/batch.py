"""Partition-level entry points of the v2 codec: every engine encode
and decode goes through ``encode_partition`` / ``decode_partition``.

Both hand the whole partition to the native C kernel (codec/native.py)
in one call.  When the kernel is not loaded they run the scalar
reference codec (codec/gorilla.py) block by block — bit-identical and
the source of truth the golden fixtures pin, but 50-800x slower, so
the first such call in a process logs a warning.  The two paths share
one error contract: a payload that does not decode to exactly its
block's ``expected`` point count raises the same ``ValueError``.
"""
from __future__ import annotations

import numpy as np

from . import native
from .gorilla import GorillaDecoder, dfcm_table_size, encode_block


def group_runs(key: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Start indices and counts of contiguous equal-key runs."""
    n = len(key)
    if n == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    change = np.flatnonzero(key[1:] != key[:-1]) + 1
    starts = np.concatenate(([0], change)).astype(np.int64)
    counts = np.diff(np.concatenate((starts, [n]))).astype(np.int64)
    return starts, counts


def encode_partition(starts: np.ndarray, counts: np.ndarray,
                     block_ts: np.ndarray, ts: np.ndarray,
                     vbits: np.ndarray, predictor: str | None = None):
    """Encode every group of a partition.

    starts/counts: group runs (monotone, contiguous, cover all rows).
    block_ts: per-group 64-bit block header timestamp.
    ts: int64 per-row timestamps (in-group ascending).
    vbits: uint64 per-row raw value words.

    Returns (payloads: list[bytes], n_bits: int64[G]).
    """
    pred_size = dfcm_table_size(predictor)  # validates the spec
    res = native.encode_many(starts, counts, block_ts, ts, vbits,
                             pred_size=pred_size)
    if res is not None:
        return res
    native.warn_fallback()
    payloads: list[bytes] = []
    nbits = np.empty(len(starts), dtype=np.int64)
    for i in range(len(starts)):
        s, c = int(starts[i]), int(counts[i])
        enc = encode_block(int(block_ts[i]), ts[s:s + c], vbits[s:s + c],
                           predictor)
        enc.close()
        payloads.append(enc.to_bytes())
        nbits[i] = enc.n_bits
    return payloads, nbits


def decode_partition(payloads: list[bytes], expected: np.ndarray,
                     predictor: str | None = None):
    """Decode many payloads → (ts int64, vbits uint64, counts int64),
    the points of all blocks concatenated in payload order.

    ``expected`` (per-block point counts from block metadata) bounds
    each block: decoding past it, or ending short of it, raises
    ``ValueError`` on both paths.
    """
    pred_size = dfcm_table_size(predictor)  # validates the spec
    res = native.decode_many(payloads, expected, pred_size=pred_size)
    if res is not None:
        return res
    native.warn_fallback()
    expected = np.asarray(expected, dtype=np.int64)
    ts_parts, vb_parts = [], []
    for i, p in enumerate(payloads):
        exp = int(expected[i])
        try:
            # zero pad like the kernel's buffer: a truncated payload
            # reads zeros (dod=0 repeats) until it overruns `exp`
            t, v = GorillaDecoder(bytes(p) + b"\x00" * 16,
                                  predictor).read_all(limit=exp + 1)
        except IndexError:
            raise ValueError(native.DECODE_OVERFLOW.format(i)) from None
        if len(t) > exp:
            raise ValueError(native.DECODE_OVERFLOW.format(i))
        ts_parts.append(t)
        vb_parts.append(v)
    counts = np.array([len(t) for t in ts_parts], dtype=np.int64)
    if not np.array_equal(counts, expected):
        raise ValueError(native.DECODE_MISMATCH)
    if not payloads:
        return np.zeros(0, np.int64), np.zeros(0, np.uint64), counts
    return np.concatenate(ts_parts), np.concatenate(vb_parts), counts
