"""Native (C) kernel for the v2 codec hot loops.

The DataFrame plan is unchanged — this only swaps the per-partition
kernel's inner loop, exactly like Spark's own Tungsten/Arrow native
layers.  ``_gorilla_kernel.c`` is compiled lazily with the system C
compiler into a source-hash-keyed ``.so`` in a private per-user cache
directory (one compile per node, every executor process dlopens the
cached artifact).  tests/test_native_kernel.py pins it to the golden
reference words and to the scalar reference codec (codec/gorilla.py).

When the kernel cannot be built or loaded — no compiler, sandboxed
filesystem — ``get_lib`` returns None and keeps the reason, and the
engine's entry points (codec/batch.py) run the scalar reference
instead, logging ONE warning per process (``warn_fallback``): that
path is 50-800x slower, so it must be visible, never silent.  The
engine reaches the ``*_many`` functions only through codec/batch.py.
"""
from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile

import numpy as np

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "_gorilla_kernel.c")
_LIB = None
_TRIED = False
_WHY: str | None = None     # why the kernel is not loaded
_WARNED = False

# decode errors of every format; the scalar reference paths
# (codec/batch.py) raise the same ones so callers see one contract
DECODE_OVERFLOW = ("decode overflow at block {}: decoded past its "
                   "n_points metadata (corrupt or truncated payload)")
DECODE_MISMATCH = "decode count mismatch vs block metadata"


def _read_src() -> bytes | None:
    try:
        with open(_SRC, "rb") as f:
            return f.read()
    except OSError:
        pass
    # zip-imported package (spark-submit --py-files / addPyFile ships
    # the engine as a zip): plain open() can't read inside the archive,
    # importlib.resources can
    try:
        from importlib import resources
        return (resources.files("gorilla_tsc_spark.codec")
                / "_gorilla_kernel.c").read_bytes()
    except Exception:
        return None


def _cache_dir() -> str | None:
    """Per-user private cache directory for the compiled kernel.

    A world-writable shared temp dir would let another local user
    pre-plant a .so at the predictable path and have every executor
    dlopen it as native code — so the cache lives in a mode-0700
    directory owned by this uid (~/.cache when HOME is usable, else a
    per-uid subdir of the temp dir), and ownership+mode are verified
    before any existing artifact is reused.
    """
    uid = os.getuid() if hasattr(os, "getuid") else 0
    candidates = []
    home = os.path.expanduser("~")
    if home and home != "~":
        candidates.append(os.path.join(home, ".cache", "gorilla_tsc_spark"))
    candidates.append(
        os.path.join(tempfile.gettempdir(), f"gorilla_kernel_u{uid}"))
    for d in candidates:
        try:
            os.makedirs(d, mode=0o700, exist_ok=True)
            st = os.stat(d)
            if st.st_uid != uid or (st.st_mode & 0o077):
                # pre-existing dir we don't exclusively own — repair
                # mode if we own it, otherwise refuse it
                if st.st_uid == uid:
                    os.chmod(d, 0o700)
                else:
                    continue
            return d
        except OSError:
            continue
    return None


def _safe_artifact(path: str) -> bool:
    """True if ``path`` exists, is a regular file owned by this uid,
    and is not writable by group/other."""
    try:
        st = os.stat(path)
    except OSError:
        return False
    uid = os.getuid() if hasattr(os, "getuid") else 0
    import stat as stat_mod
    return (stat_mod.S_ISREG(st.st_mode) and st.st_uid == uid
            and not (st.st_mode & 0o022))


def _build() -> str:
    """Path of the compiled kernel; raises RuntimeError with the reason
    when it cannot be built."""
    src = _read_src()
    if src is None:
        raise RuntimeError("kernel source _gorilla_kernel.c not readable")
    cache = _cache_dir()
    if cache is None:
        raise RuntimeError("no private cache directory for the kernel")
    tag = hashlib.sha256(src).hexdigest()[:16]
    so = os.path.join(cache, f"gorilla_kernel_{tag}.so")
    if _safe_artifact(so):
        return so
    # compile from a materialized copy of the source (works whether the
    # package lives on disk or inside a shipped zip)
    cpath = os.path.join(cache, f"gorilla_kernel_{tag}.c")
    if not os.path.exists(cpath):
        ctmp = cpath + f".{os.getpid()}.tmp"
        with open(ctmp, "wb") as f:
            f.write(src)
        os.replace(ctmp, cpath)
    tmp = so + f".{os.getpid()}.tmp"
    errors = []
    for cc in ("cc", "gcc", "clang"):
        try:
            r = subprocess.run(
                [cc, "-O2", "-shared", "-fPIC", "-o", tmp, cpath],
                capture_output=True, timeout=120)
        except (OSError, subprocess.TimeoutExpired) as e:
            errors.append(f"{cc}: {e}")
            continue
        if r.returncode == 0:
            os.replace(tmp, so)  # atomic: concurrent builders converge
            return so
        errors.append(f"{cc}: {r.stderr.decode(errors='replace').strip()}")
    raise RuntimeError(
        "no C compiler built the kernel (" + "; ".join(errors) + ")")


def get_lib():
    """The loaded kernel library, or None (the reason kept in _WHY)."""
    global _LIB, _TRIED, _WHY
    if _TRIED:
        return _LIB
    _TRIED = True
    try:
        lib = ctypes.CDLL(_build())
    except (OSError, RuntimeError) as e:
        _WHY = str(e)
        return None
    i64p = ctypes.POINTER(ctypes.c_int64)
    u64p = ctypes.POINTER(ctypes.c_uint64)
    u8p = ctypes.POINTER(ctypes.c_uint8)
    lib.decode_blocks_v2.restype = ctypes.c_int64
    lib.decode_blocks_v2.argtypes = [
        u8p, i64p, ctypes.c_int64, i64p, i64p, u64p, i64p,
        ctypes.c_int64, ctypes.c_int64]
    lib.encode_blocks_v2.restype = ctypes.c_int64
    lib.encode_blocks_v2.argtypes = [
        i64p, i64p, i64p, i64p, u64p, ctypes.c_int64,
        u64p, ctypes.c_int64, i64p, i64p, ctypes.c_int64]
    lib.decode_values.restype = ctypes.c_int64
    lib.decode_values.argtypes = [
        u8p, i64p, ctypes.c_int64, ctypes.c_int, i64p,
        u64p, i64p, ctypes.c_int64]
    lib.encode_values.restype = ctypes.c_int64
    lib.encode_values.argtypes = [
        i64p, i64p, u64p, ctypes.c_int64, ctypes.c_int,
        u64p, ctypes.c_int64, i64p, i64p]
    lib.encode_lossy32.restype = ctypes.c_int64
    lib.encode_lossy32.argtypes = [
        i64p, i64p, u64p, ctypes.c_int64, ctypes.c_int,
        u64p, ctypes.c_int64, i64p, i64p]
    f32p = ctypes.POINTER(ctypes.c_float)
    u32p = ctypes.POINTER(ctypes.c_uint32)
    f64p = ctypes.POINTER(ctypes.c_double)
    lib.pmc_filter_blocks.restype = ctypes.c_int64
    lib.pmc_filter_blocks.argtypes = [
        i64p, i64p, i64p, f32p, ctypes.c_int64, ctypes.c_float,
        i64p, i64p, u32p, i64p, ctypes.c_int64]
    lib.swing_filter_blocks.restype = ctypes.c_int64
    lib.swing_filter_blocks.argtypes = [
        i64p, i64p, i64p, f32p, ctypes.c_int64, ctypes.c_float,
        i64p, i64p, f64p, f64p, i64p, ctypes.c_int64]
    _LIB = lib
    return _LIB


def warn_fallback() -> None:
    """Log, once per process, that the scalar reference codec runs in
    place of the kernel."""
    global _WARNED
    if _WARNED:
        return
    _WARNED = True
    logging.getLogger(__name__).warning(
        "native Gorilla kernel unavailable (%s); running the scalar "
        "reference codec, 50-800x slower", _WHY or "not loaded")


def _p(a: np.ndarray, ct):
    return a.ctypes.data_as(ctypes.POINTER(ct))


def decode_many(payloads: list[bytes], expected: np.ndarray,
                pred_size: int = 0):
    """Decode many v2 payloads in ONE native call.

    Returns (ts, vbits, counts) or None if the native path is
    unavailable.  ``expected`` (per-block point counts from block
    metadata) sizes the output AND bounds each block — a payload that
    tries to decode past its expected count fails inside the kernel.
    Until then a corrupt block reads on into the bytes after it, so the
    buffer carries enough zero padding for expected+1 maximal points
    (114 bits each) past any block start: no read leaves the buffer.
    ``pred_size`` > 0 selects the DifferentialFCM predictor with that
    table size.
    """
    lib = get_lib()
    if lib is None:
        return None
    n = len(payloads)
    expected = np.ascontiguousarray(expected, dtype=np.int64)
    lens = np.fromiter((len(p) for p in payloads), np.int64, n)
    off = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=off[1:]) if n > 1 else None
    pad = 16 + (256 + 114 * (int(expected.max(initial=0)) + 1)) // 8
    buf = np.frombuffer(b"".join(payloads) + bytes(pad), dtype=np.uint8)
    cap = int(expected.sum())
    ts = np.empty(cap, dtype=np.int64)
    vb = np.empty(cap, dtype=np.uint64)
    cnt = np.empty(n, dtype=np.int64)
    got = lib.decode_blocks_v2(
        _p(buf, ctypes.c_uint8), _p(off, ctypes.c_int64), n,
        _p(expected, ctypes.c_int64),
        _p(ts, ctypes.c_int64), _p(vb, ctypes.c_uint64),
        _p(cnt, ctypes.c_int64), cap, pred_size)
    if got < 0:
        raise ValueError(DECODE_OVERFLOW.format(-1 - got))
    if got != cap or not np.array_equal(cnt, expected):
        raise ValueError(DECODE_MISMATCH)
    return ts, vb, cnt


def _value_bits(word: int) -> int:
    """Worst-case bits of one value-only (v1/v32) value: 2 control bits,
    the lz and sig-length header fields, then up to ``word`` bits."""
    return 2 + (5 + 6 if word == 64 else 4 + 5) + word


def decode_values_many(payloads: list[bytes], expected: np.ndarray, word: int):
    """Batch-decode v1 (word=64) / v32 (word=32) value-only payloads.

    Returns (vbits uint64, counts) or None; counts are cross-checked
    against the ``expected`` block metadata like decode_many, and like
    decode_many the buffer carries zero padding for the first raw word
    plus expected+1 maximal values past any block start, so a truncated
    block fails the count check without reading past the buffer."""
    lib = get_lib()
    if lib is None:
        return None
    n = len(payloads)
    expected = np.ascontiguousarray(expected, dtype=np.int64)
    lens = np.fromiter((len(p) for p in payloads), np.int64, n)
    off = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(lens[:-1], out=off[1:])
    pad = 16 + (word + _value_bits(word)
                * (int(expected.max(initial=0)) + 1)) // 8
    buf = np.frombuffer(b"".join(payloads) + bytes(pad), dtype=np.uint8)
    cap = int(expected.sum())
    vb = np.empty(cap, dtype=np.uint64)
    cnt = np.empty(n, dtype=np.int64)
    got = lib.decode_values(
        _p(buf, ctypes.c_uint8), _p(off, ctypes.c_int64), n, word,
        _p(expected, ctypes.c_int64),
        _p(vb, ctypes.c_uint64), _p(cnt, ctypes.c_int64), cap)
    if got < 0:
        raise ValueError(DECODE_OVERFLOW.format(-1 - got))
    if got != cap or not np.array_equal(cnt, expected):
        raise ValueError(DECODE_MISMATCH)
    return vb, cnt


def encode_values_many(starts: np.ndarray, counts: np.ndarray,
                       vbits: np.ndarray, word: int):
    """Batch-encode v1/v32 value-only blocks (terminator included).
    Returns (payloads, block_bits) or None."""
    lib = get_lib()
    if lib is None:
        return None
    G = len(starts)
    if G == 0:
        return [], np.zeros(0, np.int64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    vbits = np.ascontiguousarray(vbits, dtype=np.uint64)
    per_val = _value_bits(word)
    cap_words = int(((int(counts.sum()) + G) * per_val
                     + G * (word + 64)) // 64 + 2 * G + 16)
    words = np.zeros(cap_words, dtype=np.uint64)
    word_off = np.empty(G, dtype=np.int64)
    block_bits = np.empty(G, dtype=np.int64)
    used = lib.encode_values(
        _p(starts, ctypes.c_int64), _p(counts, ctypes.c_int64),
        _p(vbits, ctypes.c_uint64), G, word,
        _p(words, ctypes.c_uint64), cap_words,
        _p(word_off, ctypes.c_int64), _p(block_bits, ctypes.c_int64))
    if used < 0:
        raise ValueError("native value encode word-buffer overflow")
    allbytes = words[:used].byteswap().tobytes()
    nbytes = ((block_bits + 7) // 8).tolist()
    off_l = (word_off * 8).tolist()
    payloads = [allbytes[o:o + nb] for o, nb in zip(off_l, nbytes)]
    return payloads, block_bits


def encode_lossy32_many(starts: np.ndarray, counts: np.ndarray,
                        vbits: np.ndarray, log_of_error: int):
    """Batch-encode quantized Gorilla-32 (LossyCompressor32) blocks.
    Returns (payloads, block_bits) or None."""
    lib = get_lib()
    if lib is None:
        return None
    G = len(starts)
    if G == 0:
        return [], np.zeros(0, np.int64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    vbits = np.ascontiguousarray(vbits, dtype=np.uint64)
    cap_words = int(((int(counts.sum()) + G) * 43 + G * 96) // 64 + 2 * G + 16)
    words = np.zeros(cap_words, dtype=np.uint64)
    word_off = np.empty(G, dtype=np.int64)
    block_bits = np.empty(G, dtype=np.int64)
    used = lib.encode_lossy32(
        _p(starts, ctypes.c_int64), _p(counts, ctypes.c_int64),
        _p(vbits, ctypes.c_uint64), G, log_of_error,
        _p(words, ctypes.c_uint64), cap_words,
        _p(word_off, ctypes.c_int64), _p(block_bits, ctypes.c_int64))
    if used < 0:
        raise ValueError("native lossy32 encode word-buffer overflow")
    allbytes = words[:used].byteswap().tobytes()
    nbytes = ((block_bits + 7) // 8).tolist()
    off_l = (word_off * 8).tolist()
    payloads = [allbytes[o:o + nb] for o, nb in zip(off_l, nbytes)]
    return payloads, block_bits


def pmc_filter_many(starts: np.ndarray, counts: np.ndarray,
                    ts: np.ndarray, vs_f32: np.ndarray, eps: float):
    """Batch PMC-MR over many series runs.  Returns
    (t0, t1, value_bits uint32, segs_per_block) or None."""
    lib = get_lib()
    if lib is None:
        return None
    G = len(starts)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    vs = np.ascontiguousarray(vs_f32, dtype=np.float32)
    cap = len(ts) if len(ts) else 1
    t0 = np.empty(cap, np.int64)
    t1 = np.empty(cap, np.int64)
    vb = np.empty(cap, np.uint32)
    per = np.empty(G, np.int64)
    got = lib.pmc_filter_blocks(
        _p(starts, ctypes.c_int64), _p(counts, ctypes.c_int64),
        _p(ts, ctypes.c_int64), _p(vs, ctypes.c_float), G,
        ctypes.c_float(np.float32(eps)),
        _p(t0, ctypes.c_int64), _p(t1, ctypes.c_int64),
        _p(vb, ctypes.c_uint32), _p(per, ctypes.c_int64), cap)
    if got < 0:
        raise ValueError("native pmc filter capacity overflow")
    return t0[:got], t1[:got], vb[:got], per


def swing_filter_many(starts: np.ndarray, counts: np.ndarray,
                      ts: np.ndarray, vs_f32: np.ndarray, eps: float):
    """Batch Swing filter.  Returns (t0, t1, a, b, segs_per_block)
    or None."""
    lib = get_lib()
    if lib is None:
        return None
    G = len(starts)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    vs = np.ascontiguousarray(vs_f32, dtype=np.float32)
    cap = len(ts) if len(ts) else 1
    t0 = np.empty(cap, np.int64)
    t1 = np.empty(cap, np.int64)
    a = np.empty(cap, np.float64)
    b = np.empty(cap, np.float64)
    per = np.empty(G, np.int64)
    got = lib.swing_filter_blocks(
        _p(starts, ctypes.c_int64), _p(counts, ctypes.c_int64),
        _p(ts, ctypes.c_int64), _p(vs, ctypes.c_float), G,
        ctypes.c_float(np.float32(eps)),
        _p(t0, ctypes.c_int64), _p(t1, ctypes.c_int64),
        _p(a, ctypes.c_double), _p(b, ctypes.c_double),
        _p(per, ctypes.c_int64), cap)
    if got < 0:
        raise ValueError("native swing filter capacity overflow")
    return t0[:got], t1[:got], a[:got], b[:got], per


def encode_many(starts: np.ndarray, counts: np.ndarray,
                block_ts: np.ndarray, ts: np.ndarray, vbits: np.ndarray,
                pred_size: int = 0):
    """Encode many blocks in ONE native call — drop-in for
    codec/batch.encode_partition.  Returns (payloads, block_bits) or
    None if unavailable.  ``pred_size`` > 0 selects DifferentialFCM."""
    lib = get_lib()
    if lib is None:
        return None
    G = len(starts)
    if G == 0:
        return [], np.zeros(0, np.int64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    block_ts = np.ascontiguousarray(block_ts, dtype=np.int64)
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    vbits = np.ascontiguousarray(vbits, dtype=np.uint64)
    # worst case: 114 bits/point + ~192 header/terminator bits per block
    cap_words = int((int(counts.sum()) * 114 + G * 256) // 64 + 2 * G + 16)
    words = np.zeros(cap_words, dtype=np.uint64)
    word_off = np.empty(G, dtype=np.int64)
    block_bits = np.empty(G, dtype=np.int64)
    used = lib.encode_blocks_v2(
        _p(starts, ctypes.c_int64), _p(counts, ctypes.c_int64),
        _p(block_ts, ctypes.c_int64), _p(ts, ctypes.c_int64),
        _p(vbits, ctypes.c_uint64), G,
        _p(words, ctypes.c_uint64), cap_words,
        _p(word_off, ctypes.c_int64), _p(block_bits, ctypes.c_int64),
        pred_size)
    if used < 0:
        raise ValueError("native encode word-buffer overflow")
    allbytes = words[:used].byteswap().tobytes()
    nbytes = ((block_bits + 7) // 8).tolist()
    off_l = (word_off * 8).tolist()
    payloads = [allbytes[o:o + nb] for o, nb in zip(off_l, nbytes)]
    return payloads, block_bits
