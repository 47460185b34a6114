"""Partition-level codec entry points: every engine encode and decode
goes through this module.

- v2 (timestamped) blocks: ``encode_partition`` / ``decode_partition``;
- value-only v1/v32 blocks: ``encode_values_partition`` /
  ``decode_values_partition``;
- lossy: ``encode_lossy32_partition``, ``pmc_partition`` and
  ``swing_partition``.

Each hands the whole partition to the native C kernel (codec/native.py)
in one call.  When the kernel is not loaded it runs the scalar
reference codec (codec/gorilla.py, valueonly.py, lossy.py) block by
block — bit-identical and the source of truth the golden fixtures pin,
but 50-800x slower, so the first such call in a process logs a
warning.  The two paths share one error contract: a payload that does
not decode to exactly its block's ``expected`` point count raises the
same ``ValueError``.
"""
from __future__ import annotations

import numpy as np

from . import native
from .gorilla import GorillaDecoder, dfcm_table_size, encode_block
from .lossy import LossyCompressor32, pmc_mr_filter, swing_filter
from .valueonly import (Compressor32, Compressor64, Decompressor32,
                        Decompressor64)


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


def _runs(starts: np.ndarray, counts: np.ndarray):
    return ((int(s), int(s) + int(c)) for s, c in zip(starts, counts))


def encode_values_partition(starts: np.ndarray, counts: np.ndarray,
                            vbits: np.ndarray, word: int):
    """Encode value-only blocks (``word`` 64 = v1, 32 = v32; the value
    words in the low ``word`` bits of uint64 ``vbits``), terminator
    included → (payloads, n_bits)."""
    res = native.encode_values_many(starts, counts, vbits, word)
    if res is not None:
        return res
    native.warn_fallback()
    payloads, nbits = [], np.empty(len(starts), dtype=np.int64)
    for i, (s, e) in enumerate(_runs(starts, counts)):
        enc = Compressor64() if word == 64 else Compressor32()
        enc.add_array(vbits[s:e] if word == 64
                      else vbits[s:e].astype(np.uint32))
        enc.close()
        payloads.append(enc.to_bytes())
        nbits[i] = enc.out.total_bits
    return payloads, nbits


def decode_values_partition(payloads: list[bytes], expected: np.ndarray,
                            word: int):
    """Decode value-only payloads → (vbits uint64, counts), bounded by
    the ``expected`` per-block counts like ``decode_partition``."""
    res = native.decode_values_many(payloads, expected, word)
    if res is not None:
        return res
    native.warn_fallback()
    dec_cls = Decompressor64 if word == 64 else Decompressor32
    expected = np.asarray(expected, dtype=np.int64)
    vals = []
    for i, p in enumerate(payloads):
        try:
            # zero pad: a truncated payload reads repeats to the end
            v = dec_cls(bytes(p) + bytes(8)).read_all()
        except IndexError:
            raise ValueError(native.DECODE_OVERFLOW.format(i)) from None
        if len(v) > expected[i]:
            raise ValueError(native.DECODE_OVERFLOW.format(i))
        vals.append(v)
    counts = np.array([len(v) for v in vals], dtype=np.int64)
    if not np.array_equal(counts, expected):
        raise ValueError(native.DECODE_MISMATCH)
    return (np.concatenate(vals + [np.zeros(0, np.uint64)])
            .astype(np.uint64), counts)


def encode_lossy32_partition(starts: np.ndarray, counts: np.ndarray,
                             vbits: np.ndarray, log_of_error: int):
    """Encode quantized Gorilla-32 blocks (float32 words in uint64
    ``vbits``) → (payloads, n_bits); they decode as v32 payloads."""
    res = native.encode_lossy32_many(starts, counts, vbits, log_of_error)
    if res is not None:
        return res
    native.warn_fallback()
    payloads, nbits = [], np.empty(len(starts), dtype=np.int64)
    for i, (s, e) in enumerate(_runs(starts, counts)):
        enc = LossyCompressor32(log_of_error)
        for b in vbits[s:e].tolist():
            enc.add_bits(b)
        enc.close()
        payloads.append(enc.out.to_bytes())
        nbits[i] = enc.out.total_bits
    return payloads, nbits


def pmc_partition(starts: np.ndarray, counts: np.ndarray, ts: np.ndarray,
                  vs_f32: np.ndarray, eps: float):
    """PMC-MR segments of every run → (t0, t1, value_bits uint32,
    segments per run)."""
    res = native.pmc_filter_many(starts, counts, ts, vs_f32, eps)
    if res is not None:
        return res
    native.warn_fallback()
    segs = [pmc_mr_filter(ts[s:e], vs_f32[s:e], eps)
            for s, e in _runs(starts, counts)]
    flat = [g for run in segs for g in run]
    return (np.array([g.t0 for g in flat], np.int64),
            np.array([g.t1 for g in flat], np.int64),
            np.array([g.value_bits for g in flat], np.uint32),
            np.array([len(run) for run in segs], np.int64))


def swing_partition(starts: np.ndarray, counts: np.ndarray, ts: np.ndarray,
                    vs_f32: np.ndarray, eps: float):
    """Swing-filter segments of every run → (t0, t1, a, b, segments
    per run)."""
    res = native.swing_filter_many(starts, counts, ts, vs_f32, eps)
    if res is not None:
        return res
    native.warn_fallback()
    segs = [swing_filter(ts[s:e], vs_f32[s:e], eps)
            for s, e in _runs(starts, counts)]
    flat = [g for run in segs for g in run]
    return (np.array([g.t0 for g in flat], np.int64),
            np.array([g.t1 for g in flat], np.int64),
            np.array([g.line.a for g in flat], np.float64),
            np.array([g.line.b for g in flat], np.float64),
            np.array([len(run) for run in segs], np.int64))
