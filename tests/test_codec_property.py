"""Property-based codec tests (hypothesis) — beyond the reference's
fixed vectors: arbitrary float64 payloads and timestamp patterns must
round-trip bit-exactly through the scalar reference and the engine's
partition entry points (codec/batch.py)."""
from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gorilla_tsc_spark.codec.batch import (decode_partition,
                                           encode_partition, group_runs)
from gorilla_tsc_spark.codec.gorilla import GorillaDecoder, encode_block

DAY_MS = 86_400_000
BASE = 1_700_000_000_000 // DAY_MS * DAY_MS

# any bit pattern, incl. NaN payloads, ±inf, -0.0, denormals
_bits = st.integers(min_value=0, max_value=(1 << 64) - 1)
# strides keep points inside the 27-bit first-delta day window
_strides = st.integers(min_value=0, max_value=500_000)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(_strides, _bits), min_size=1, max_size=300))
def test_roundtrip_any_bits(points):
    ts = BASE + 1 + np.cumsum([p[0] for p in points]).astype(np.int64)
    vb = np.array([p[1] for p in points], dtype=np.uint64)
    enc = encode_block(BASE, ts, vb)
    enc.close()
    payload = enc.to_bytes()
    t1, v1 = GorillaDecoder(payload).read_all()
    assert np.array_equal(t1, ts) and np.array_equal(v1, vb)
    t2, v2, _ = decode_partition([payload], np.array([len(ts)], np.int64))
    assert np.array_equal(t2, ts) and np.array_equal(v2, vb)


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.lists(st.tuples(_strides, _bits), min_size=1, max_size=60),
    min_size=1, max_size=12))
def test_batch_equals_scalar(groups):
    gid, ts_all, vb_all, bts = [], [], [], []
    for g, pts in enumerate(groups):
        b = BASE + (g % 28) * DAY_MS
        ts = b + 1 + np.cumsum([p[0] for p in pts]).astype(np.int64)
        gid.append(np.full(len(pts), g, dtype=np.int64))
        ts_all.append(ts)
        vb_all.append(np.array([p[1] for p in pts], dtype=np.uint64))
        bts.append(b)
    starts, counts = group_runs(np.concatenate(gid))
    payloads, nbits = encode_partition(
        starts, counts, np.array(bts, np.int64),
        np.concatenate(ts_all), np.concatenate(vb_all))
    for i, pts in enumerate(groups):
        enc = encode_block(bts[i], ts_all[i], vb_all[i])
        enc.close()
        assert payloads[i] == enc.to_bytes()
        assert nbits[i] == enc.n_bits


_series_frags = st.lists(  # per series: fragments of (gap_before_ms, strides)
    st.lists(st.tuples(
        st.integers(min_value=1, max_value=4_000_000_000),
        st.lists(st.integers(min_value=1, max_value=1_500_000_000),
                 min_size=1, max_size=40)),
        min_size=1, max_size=6),
    min_size=1, max_size=4)


def _series_blocks(series_frags):
    """Encode each fragment as one block row; returns (pdf sorted the
    way compact_blocks arranges partitions, truth point sets)."""
    import pandas as pd
    import zlib

    rows = []
    truth = {}
    for s, frags in enumerate(series_frags):
        conv = f"c{s}"
        t = BASE + 1
        pts = []
        for gap, strides in frags:
            t += gap
            ts = t + np.cumsum(strides).astype(np.int64)
            t = int(ts[-1])
            vb = (np.arange(len(ts), dtype=np.uint64) * 7919 + s)
            pts.append((ts, vb))
        truth[conv] = [(int(a), int(b)) for ts, vb in pts
                       for a, b in zip(ts, vb)]
        for ts, vb in pts:
            bts = (int(ts[0]) // DAY_MS) * DAY_MS
            enc = encode_block(bts, ts, vb)
            enc.close()
            p = enc.to_bytes()
            rows.append({
                "conv_id": conv, "channel": "len", "kind": "long",
                "block_start": bts, "seq": 0, "n_points": len(ts),
                "n_bits": enc.n_bits, "payload": p,
                "first_ts": int(ts[0]), "last_ts": int(ts[-1]),
                "agg_cnt": len(ts), "agg_min": float(vb.min()),
                "agg_max": float(vb.max()), "agg_sum": float(vb.sum()),
                "day_buckets": None, "day_cnt": None, "day_min": None,
                "day_max": None, "day_sum": None,
                "crc": zlib.crc32(p),
            })
    pdf = pd.DataFrame(rows).sort_values(
        ["conv_id", "channel", "first_ts", "seq"]).reset_index(drop=True)
    return pdf, truth


@settings(max_examples=20, deadline=None)
@given(_series_frags)
def test_compact_kernel_identity(series_frags):
    """operators/compact._compact_pdf: arbitrary fragmentation of
    series with arbitrary inter-fragment gaps (which may exceed
    GAP_SPLIT_MS) compacts to the exact same point set, with no step
    >= GAP_SPLIT_MS inside any output block.  Within-fragment strides
    stay < GAP_SPLIT_MS because source blocks must themselves satisfy
    the 32-bit delta-of-delta bound."""
    import pandas as pd

    from gorilla_tsc_spark.operators.compact import _compact_pdf
    from gorilla_tsc_spark.operators.encode import GAP_SPLIT_MS

    pdf, truth = _series_blocks(series_frags)
    out = pd.concat(list(_compact_pdf(pdf)), ignore_index=True)
    got = {}
    for r in out.itertuples(index=False):
        t2, v2, _ = decode_partition([bytes(r.payload)],
                                     np.array([r.n_points], np.int64))
        got.setdefault(r.conv_id, []).extend(
            (int(a), int(np.uint64(b))) for a, b in zip(t2, v2))
        # no step inside a compacted block may reach the split bound
        d = np.diff(np.array(t2, np.int64))
        assert (d < GAP_SPLIT_MS).all()
    for conv, pts in truth.items():
        assert sorted(got[conv]) == sorted(pts), conv


@settings(max_examples=20, deadline=None)
@given(_series_frags, st.floats(min_value=0.0, max_value=1.0),
       st.floats(min_value=0.0, max_value=1.0))
def test_compact_kernel_drop_range(series_frags, a, b):
    """The drop_range path (targeted range purge): compacting with a
    window removes exactly the points with t0 <= ts < t1 — including
    windows that empty a whole series (it must emit nothing) and
    windows outside the data (identity)."""
    import pandas as pd

    from gorilla_tsc_spark.operators.compact import _compact_pdf

    pdf, truth = _series_blocks(series_frags)
    all_ts = sorted(t for pts in truth.values() for t, _ in pts)
    lo, hi = all_ts[0], all_ts[-1] + 1
    t0 = lo + int(a * (hi - lo))
    t1 = t0 + int(b * (hi - t0))
    out_iter = list(_compact_pdf(pdf, (t0, t1)))
    got = {}
    for chunk in out_iter:
        for r in chunk.itertuples(index=False):
            t2, v2, _ = decode_partition([bytes(r.payload)],
                                         np.array([r.n_points], np.int64))
            got.setdefault(r.conv_id, []).extend(
                (int(x), int(np.uint64(y))) for x, y in zip(t2, v2))
    for conv, pts in truth.items():
        want = sorted(p for p in pts if not (t0 <= p[0] < t1))
        assert sorted(got.get(conv, [])) == want, (conv, t0, t1)
