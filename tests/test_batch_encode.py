"""The partition-level codec entry points (codec/batch.py) must be
bit-identical to the golden-vector-validated per-block reference:
encode_partition vs encode_block for every block, decode_partition vs
GorillaDecoder for every payload."""
from __future__ import annotations

import numpy as np
from gorilla_tsc_spark.codec.batch import (decode_partition,
                                           encode_partition, group_runs)
from gorilla_tsc_spark.codec.gorilla import GorillaDecoder, encode_block

DAY_MS = 86_400_000
BASE = 1_700_000_000_000 // DAY_MS * DAY_MS


def _compare(ts_groups, val_groups, block_ts_list):
    gid = np.concatenate([np.full(len(t), i, dtype=np.int64)
                          for i, t in enumerate(ts_groups)])
    ts = np.concatenate(ts_groups).astype(np.int64)
    vb = np.concatenate(val_groups).astype(np.uint64)
    starts, counts = group_runs(gid)
    bts = np.array(block_ts_list, dtype=np.int64)
    payloads, nbits = encode_partition(starts, counts, bts, ts, vb)
    assert len(payloads) == len(ts_groups)
    for i, (t, v, b) in enumerate(zip(ts_groups, val_groups, block_ts_list)):
        enc = encode_block(int(b), np.asarray(t, np.int64),
                           np.asarray(v, np.uint64))
        enc.close()
        assert payloads[i] == enc.to_bytes(), f"group {i} payload mismatch"
        assert nbits[i] == enc.n_bits, f"group {i} nbits mismatch"


def _rand_group(rng, n, day):
    b = BASE + day * DAY_MS
    ts = b + np.sort(rng.integers(1, DAY_MS - 1, n))
    ts = np.unique(ts)
    vals = rng.choice([1.0, 2.0, 2.0, 42.5, -3.25, 1e18, 0.0],
                      size=len(ts)).astype(np.float64)
    return ts.astype(np.int64), vals.view(np.uint64), b


def test_many_small_groups_bit_identical():
    rng = np.random.default_rng(7)
    tg, vg, bl = [], [], []
    for g in range(200):
        t, v, b = _rand_group(rng, int(rng.integers(1, 12)), g % 30)
        tg.append(t)
        vg.append(v)
        bl.append(b)
    _compare(tg, vg, bl)


def test_mixed_sizes_and_patterns():
    rng = np.random.default_rng(11)
    tg, vg, bl = [], [], []
    # constant values (xor==0 runs), monotone ramps, random doubles,
    # specials, single-point groups
    for g, n in enumerate([1, 2, 3, 1000, 5000, 1, 7]):
        b = BASE + g * DAY_MS
        ts = b + np.cumsum(rng.integers(1, 5000, n)).astype(np.int64)
        kind = g % 4
        if kind == 0:
            vals = np.full(n, 99.5)
        elif kind == 1:
            vals = np.arange(n, dtype=np.float64)
        elif kind == 2:
            vals = rng.standard_normal(n)
        else:
            vals = rng.choice([np.nan, np.inf, -np.inf, -0.0, 1.5], n)
        tg.append(ts)
        vg.append(vals.view(np.uint64))
        bl.append(b)
    _compare(tg, vg, bl)


def test_long_channel_and_dod_buckets():
    rng = np.random.default_rng(13)
    tg, vg, bl = [], [], []
    for g in range(20):
        b = BASE + g * DAY_MS
        # strides crafted to hit every dod bucket incl. the 36-bit
        # dod == -1 quirk path
        strides = rng.choice([1, 2, 60, 61, 59, 1000, 5000, 100_000], 300)
        ts = b + np.cumsum(strides).astype(np.int64)
        vals = rng.integers(-5, 5, 300).astype(np.int64)
        tg.append(ts)
        vg.append(vals.view(np.uint64))
        bl.append(b)
    _compare(tg, vg, bl)


def test_decodes_roundtrip():
    rng = np.random.default_rng(17)
    tg, vg, bl = [], [], []
    for g in range(50):
        t, v, b = _rand_group(rng, int(rng.integers(1, 50)), g)
        tg.append(t)
        vg.append(v)
        bl.append(b)
    gid = np.concatenate([np.full(len(t), i, dtype=np.int64)
                          for i, t in enumerate(tg)])
    starts, counts = group_runs(gid)
    payloads, _ = encode_partition(
        starts, counts, np.array(bl, np.int64),
        np.concatenate(tg), np.concatenate(vg))
    for i, p in enumerate(payloads):
        ts2, v2 = GorillaDecoder(p).read_all()
        assert np.array_equal(ts2, tg[i])
        assert np.array_equal(v2, vg[i])


def _check_decode(ts, vals_u64, block_ts):
    enc = encode_block(block_ts, np.asarray(ts, np.int64),
                       np.asarray(vals_u64, np.uint64))
    enc.close()
    payload = enc.to_bytes()
    t_ref, v_ref = GorillaDecoder(payload).read_all()
    t, v, cnt = decode_partition([payload], np.array([len(ts)], np.int64))
    assert cnt.tolist() == [len(ts)]
    assert np.array_equal(t, t_ref)
    assert np.array_equal(v, v_ref)


def test_decode_partition_shapes_and_specials():
    rng = np.random.default_rng(3)
    for n in (1, 2, 3, 10, 257, 5000):
        ts = BASE + np.cumsum(rng.integers(1, 120_000, n)).astype(np.int64)
        for vals in (
            rng.standard_normal(n),
            np.full(n, 7.25),
            rng.choice([np.nan, np.inf, -np.inf, -0.0, 1.5, 2.0, 2.0], n),
            rng.integers(-100, 100, n).astype(np.float64),
        ):
            _check_decode(ts, vals.view(np.uint64), BASE)


def test_decode_partition_dod_buckets_and_long_values():
    rng = np.random.default_rng(5)
    strides = rng.choice([1, 2, 59, 60, 61, 4000, 100_000, 8_000_000], 2000)
    ts = BASE + np.cumsum(strides).astype(np.int64)
    vals = rng.integers(-5, 5, 2000).astype(np.int64).view(np.uint64)
    _check_decode(ts, vals, BASE)


def test_decode_partition_empty_block():
    enc = encode_block(BASE, np.array([], np.int64), np.array([], np.uint64))
    enc.close()
    t, v, cnt = decode_partition([enc.to_bytes()], np.array([0], np.int64))
    assert len(t) == 0 and len(v) == 0 and cnt.tolist() == [0]
