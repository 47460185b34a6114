"""Native C kernel ≡ golden reference words ≡ scalar reference codec.

The C fast path (codec/native.py + _gorilla_kernel.c) must reproduce
exactly what the reference implementation produces:
- encode: the golden fixtures' expected words, and byte-identical
  payloads + n_bits vs the scalar reference (codec/gorilla.py
  encode_block) on random corpora spanning the dod buckets, XOR window
  churn, repeats and single-point blocks;
- decode: identical (ts, value-word) streams vs GorillaDecoder.

The engine's entry points (codec/batch.py) fall back to that scalar
reference when the kernel is not loaded; the last test forces the
fallback and checks both paths agree byte for byte and error for error.

When no C compiler is available the module is skipped.
"""
from __future__ import annotations

import logging

import numpy as np
import pytest

from gorilla_tsc_spark.codec import native
from gorilla_tsc_spark.codec.batch import decode_partition, encode_partition
from gorilla_tsc_spark.codec.gorilla import GorillaDecoder, encode_block

from .conftest import fixture_names, load_fixture

pytestmark = pytest.mark.skipif(native.get_lib() is None,
                                reason="no C compiler available")

U64 = (1 << 64) - 1


def _long_array(payload: bytes, n_bits: int) -> list[int]:
    """The reference's flushed ``getLongArray()`` words for a payload:
    the data words plus the trailing word(s) the reference appends."""
    pad = (-len(payload)) % 8
    words = (np.frombuffer(payload + bytes(pad), dtype=">u8")
             .astype(np.uint64).tolist())
    return words + [0] * (2 if n_bits % 64 == 0 else 1)


def _gorilla_fixtures():
    out = []
    for n in fixture_names():
        fx = load_fixture(n)
        if (fx["mode"] == "gorilla64" and fx["input"]["close"]
                and fx["input"]["points"]):
            out.append(n)
    return out


def _fixture_block(fx):
    pts = [(ts, int(v, 16)) for ts, v in fx["input"]["points"]]
    ts = np.array([p[0] for p in pts], dtype=np.int64)
    vb = np.array([p[1] for p in pts], dtype=np.uint64)
    starts = np.array([0], np.int64)
    counts = np.array([len(pts)], np.int64)
    bts = np.array([fx["input"]["blockts"]], np.int64)
    return starts, counts, bts, ts, vb


@pytest.mark.parametrize("name", _gorilla_fixtures())
def test_native_matches_golden(name):
    fx = load_fixture(name)
    starts, counts, bts, ts, vb = _fixture_block(fx)
    p_nat, bits_nat = native.encode_many(starts, counts, bts, ts, vb)
    assert len(p_nat[0]) == (int(bits_nat[0]) + 7) // 8
    assert _long_array(p_nat[0], int(bits_nat[0])) == \
        [int(h, 16) for h in fx["longs"]]
    t_n, v_n, cnt = native.decode_many([p_nat[0]], counts)
    t_ref, v_ref = GorillaDecoder(p_nat[0]).read_all()
    assert np.array_equal(t_n, t_ref) and np.array_equal(v_n, v_ref)
    assert np.array_equal(t_n, ts) and np.array_equal(v_n, vb)


def _vo_fixtures():
    out = []
    for n in fixture_names():
        fx = load_fixture(n)
        if fx["mode"] in ("v1", "v32") and fx["input"]["points"]:
            out.append(n)
    return out


@pytest.mark.parametrize("name", _vo_fixtures())
def test_native_valueonly_matches_golden(name):
    from gorilla_tsc_spark.codec.valueonly import (Compressor32, Compressor64,
                                                   Decompressor32,
                                                   Decompressor64)
    fx = load_fixture(name)
    word = 64 if fx["mode"] == "v1" else 32
    vb = np.array([int(v, 16) for _, v in fx["input"]["points"]],
                  dtype=np.uint64)
    enc = Compressor64() if word == 64 else Compressor32()
    enc.add_array(vb if word == 64 else vb.astype(np.uint32))
    enc.close()
    p_ref = enc.to_bytes()
    starts = np.array([0], np.int64)
    counts = np.array([len(vb)], np.int64)
    p_nat, bits_nat = native.encode_values_many(starts, counts, vb, word)
    assert p_nat[0] == p_ref
    assert int(bits_nat[0]) == enc.out.total_bits
    dec = (Decompressor64 if word == 64 else Decompressor32)(p_ref)
    v_ref = dec.read_all().astype(np.uint64)
    v_nat, cnt = native.decode_values_many([p_ref], counts, word)
    assert np.array_equal(v_nat, v_ref)


def _lossy_fixtures():
    out = []
    for n in fixture_names():
        fx = load_fixture(n)
        if fx["mode"].startswith("lossy32") and fx["input"]["points"]:
            out.append(n)
    return out


@pytest.mark.parametrize("name", _lossy_fixtures())
def test_native_lossy32_matches_golden(name):
    from gorilla_tsc_spark.codec.lossy import LossyCompressor32
    fx = load_fixture(name)
    log = int(fx["mode"].split(":")[1])
    vb = np.array([int(v, 16) for _, v in fx["input"]["points"]],
                  dtype=np.uint64)
    enc = LossyCompressor32(log)
    for b in vb.tolist():
        enc.add_bits(int(b))
    enc.close()
    p_ref = enc.out.to_bytes()
    starts = np.array([0], np.int64)
    counts = np.array([len(vb)], np.int64)
    p_nat, bits_nat = native.encode_lossy32_many(starts, counts, vb, log)
    assert p_nat[0] == p_ref
    assert int(bits_nat[0]) == enc.out.total_bits


@pytest.mark.parametrize("mode", ["pmc", "swing"])
def test_native_filters_match_golden(mode):
    from gorilla_tsc_spark.codec.lossy import pmc_mr_filter, swing_filter
    names = [n for n in fixture_names()
             if load_fixture(n)["mode"].startswith(mode)]
    assert names
    for name in names:
        fx = load_fixture(name)
        # mode carries epsilon as float32 hex bits
        eps = float(np.uint32(int(fx["mode"].split(":")[1], 16))
                    .view(np.float32))
        vb = np.array([int(v, 16) for _, v in fx["input"]["points"]],
                      dtype=np.uint32)
        vs = vb.view(np.float32)
        ts = np.array([t for t, _ in fx["input"]["points"]], dtype=np.int64)
        one = np.array([0], np.int64), np.array([len(vs)], np.int64)
        if mode == "pmc":
            t0, t1, bits, per = native.pmc_filter_many(*one, ts, vs, eps)
            segs = pmc_mr_filter(ts, vs, eps)
            assert int(per[0]) == len(segs)
            assert t0.tolist() == [s.t0 for s in segs]
            assert t1.tolist() == [s.t1 for s in segs]
            assert bits.tolist() == [s.value_bits for s in segs]
        else:
            t0, t1, a, b, per = native.swing_filter_many(*one, ts, vs, eps)
            segs = swing_filter(ts, vs, eps)
            assert int(per[0]) == len(segs)
            assert t0.tolist() == [s.t0 for s in segs]
            assert t1.tolist() == [s.t1 for s in segs]
            assert a.tolist() == [s.line.a for s in segs]
            assert b.tolist() == [s.line.b for s in segs]


def _random_partition(seed: int):
    rng = np.random.default_rng(seed)
    all_ts, all_vb, starts, counts, bts = [], [], [], [], []
    pos = 0
    for g in range(40):
        n = int(rng.integers(1, 300))
        t0 = 1_700_000_000_000 + g * 86_400_000
        ts = t0 + np.cumsum(rng.integers(1, 90_000, n)).astype(np.int64)
        if g % 4 == 0:          # dod=0 runs + -1 quirk
            ts = t0 + 1000 * np.arange(n, dtype=np.int64)
            ts[n // 2:] -= 1
        kind = g % 3
        if kind == 0:
            v = rng.normal(20, 5, n)
        elif kind == 1:
            v = np.repeat(rng.normal(10, 1), n)  # xor==0 repeats
        else:
            v = rng.integers(0, 1000, n).astype(np.float64)
        all_ts.append(ts)
        all_vb.append(v.view(np.uint64))
        starts.append(pos)
        counts.append(n)
        bts.append((int(ts[0]) // 86_400_000) * 86_400_000)
        pos += n
    return (np.array(starts, np.int64), np.array(counts, np.int64),
            np.array(bts, np.int64), np.concatenate(all_ts),
            np.concatenate(all_vb))


def _reference_encode(starts, counts, bts, ts, vb, predictor=None):
    payloads, nbits = [], []
    for i in range(len(starts)):
        s, c = int(starts[i]), int(counts[i])
        enc = encode_block(int(bts[i]), ts[s:s + c], vb[s:s + c], predictor)
        enc.close()
        payloads.append(enc.to_bytes())
        nbits.append(enc.n_bits)
    return payloads, np.array(nbits, np.int64)


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_native_matches_numpy_random(seed):
    """Against the reference encode_block (NumPy-vectorized for the
    last-value predictor) and GorillaDecoder."""
    starts, counts, bts, ts, vb = _random_partition(seed)
    p_ref, bits_ref = _reference_encode(starts, counts, bts, ts, vb)
    p_nat, bits_nat = native.encode_many(starts, counts, bts, ts, vb)
    assert p_nat == p_ref
    assert np.array_equal(bits_ref, bits_nat)
    t_n, v_n, cnt = native.decode_many(p_ref, counts)
    off = 0
    for p in p_ref:
        t_ref, v_ref = GorillaDecoder(p).read_all()
        n = len(t_ref)
        assert np.array_equal(t_n[off:off + n], t_ref)
        assert np.array_equal(v_n[off:off + n], v_ref)
        off += n
    assert off == len(t_n)


def test_native_dfcm_matches_golden():
    """Golden DFCM vector stays bit-exact through the C predictor path
    (DifferentialFCM.java:10-47; verdict r2 item 3)."""
    fx = load_fixture("dfcm")
    starts, counts, bts, ts, vb = _fixture_block(fx)
    p_nat, bits_nat = native.encode_many(starts, counts, bts, ts, vb,
                                         pred_size=1024)
    assert _long_array(p_nat[0], int(bits_nat[0])) == \
        [int(h, 16) for h in fx["longs"]]
    t_n, v_n, cnt = native.decode_many(p_nat, counts, pred_size=1024)
    t_s, v_s = GorillaDecoder(p_nat[0], "dfcm:1024").read_all()
    assert np.array_equal(t_n, t_s) and np.array_equal(t_n, ts)
    assert np.array_equal(v_n, v_s) and np.array_equal(v_n, vb)


@pytest.mark.parametrize("table_size", [64, 1000, 1024])
def test_native_dfcm_random(table_size):
    """Random corpora through the DFCM C path ≡ scalar Python codec,
    including non-pow2 table sizes (rounded up like the reference)."""
    starts, counts, bts, ts, vb = _random_partition(table_size)
    pred = f"dfcm:{table_size}"
    p_ref, _ = _reference_encode(starts, counts, bts, ts, vb, pred)
    p_nat, _ = native.encode_many(starts, counts, bts, ts, vb,
                                  pred_size=table_size)
    assert [bytes(x) for x in p_nat] == p_ref
    t_n, v_n, cnt = native.decode_many(p_ref, counts, pred_size=table_size)
    assert np.array_equal(t_n, ts)
    assert np.array_equal(v_n, vb)


def _corruptions(payloads, counts):
    """(payloads, expected) pairs that must fail to decode: a truncated
    final payload (the zero pad decodes as repeats past its count),
    metadata that undercounts a block, and metadata that overcounts."""
    trunc = list(payloads)
    trunc[-1] = trunc[-1][: len(trunc[-1]) // 2]
    under = counts.copy()
    under[0] -= 1
    over = counts.copy()
    over[0] += 1
    return [(trunc, counts), (payloads, under), (payloads, over)]


def test_native_decode_bounded_by_expected():
    """A truncated/corrupt payload must fail cleanly instead of walking
    past its bytes (zeros decode as dod=0 repeats) — ADVICE r2."""
    starts, counts, bts, ts, vb = _random_partition(3)
    p_ref, _ = native.encode_many(starts, counts, bts, ts, vb)
    for payloads, expected in _corruptions(p_ref, counts):
        with pytest.raises(ValueError):
            native.decode_many(payloads, expected)



@pytest.mark.parametrize("word", [64, 32])
def test_native_valueonly_decode_bounded_by_expected(word):
    """The value-only decode fails a truncated/corrupt payload cleanly
    too, including a long constant block cut to its first word: the
    zero pad decodes as one-bit repeats, so the walk to its count runs
    far past the payload and must stay inside the padded buffer."""
    starts, counts, _, _, vb = _random_partition(5)
    if word == 32:
        vb = vb & np.uint64(0xFFFFFFFF)
    payloads, _ = native.encode_values_many(starts, counts, vb, word)
    for bad, expected in _corruptions(payloads, counts):
        with pytest.raises(ValueError):
            native.decode_values_many(bad, expected, word)
    n = 20_000
    flat = np.repeat(vb[:1], n)
    (long_block,), _ = native.encode_values_many(
        np.zeros(1, np.int64), np.array([n], np.int64), flat, word)
    with pytest.raises(ValueError):
        native.decode_values_many([long_block[:word // 8]],
                                  np.array([n], np.int64), word)

def test_reference_fallback_matches_native(monkeypatch, caplog):
    """With the kernel unloaded, the entry points run the scalar
    reference: same payloads, n_bits and decoded points as the kernel,
    the same ValueError on corrupt input, and exactly one warning."""
    cases = []
    for seed, predictor in ((5, None), (6, "dfcm1024")):
        part = _random_partition(seed)
        enc = encode_partition(*part, predictor)
        dec = decode_partition(enc[0], part[1], predictor)
        errors = []
        for payloads, expected in _corruptions(enc[0], part[1]):
            with pytest.raises(ValueError) as e:
                decode_partition(payloads, expected, predictor)
            errors.append(str(e.value))
        cases.append((part, predictor, enc, dec, errors))

    monkeypatch.setattr(native, "_TRIED", True)
    monkeypatch.setattr(native, "_LIB", None)
    monkeypatch.setattr(native, "_WHY", "disabled by the test")
    monkeypatch.setattr(native, "_WARNED", False)
    with caplog.at_level(logging.WARNING, logger=native.__name__):
        for part, predictor, enc, dec, errors in cases:
            p_ref, bits_ref = encode_partition(*part, predictor)
            assert p_ref == enc[0]
            assert np.array_equal(bits_ref, enc[1])
            for got, want in zip(decode_partition(p_ref, part[1], predictor),
                                 dec):
                assert got.dtype == want.dtype
                assert np.array_equal(got, want)
            for (payloads, expected), msg in zip(
                    _corruptions(p_ref, part[1]), errors):
                with pytest.raises(ValueError) as e:
                    decode_partition(payloads, expected, predictor)
                assert str(e.value) == msg
    warnings = [r for r in caplog.records if r.name == native.__name__]
    assert len(warnings) == 1
    assert "disabled by the test" in warnings[0].getMessage()


def _variant_results(starts, counts, ts, vb):
    """Every value-only and lossy entry point over one partition, plus
    the error each value-only corruption raises."""
    from gorilla_tsc_spark.codec.batch import (decode_values_partition,
                                               encode_lossy32_partition,
                                               encode_values_partition,
                                               pmc_partition,
                                               swing_partition)
    vs = vb.view(np.float64).astype(np.float32)
    f32 = vs.view(np.uint32).astype(np.uint64)
    out = {}
    for word, bits in ((64, vb), (32, f32)):
        enc = encode_values_partition(starts, counts, bits, word)
        errors = []
        for payloads, expected in _corruptions(enc[0], counts):
            with pytest.raises(ValueError) as e:
                decode_values_partition(payloads, expected, word)
            errors.append(str(e.value))
        out[f"v{word}"] = (enc, decode_values_partition(enc[0], counts, word),
                           errors)
    enc = encode_lossy32_partition(starts, counts, f32, -3)
    out["lossy32"] = (enc, decode_values_partition(enc[0], counts, 32))
    unit = np.arange(len(ts), dtype=np.int64)
    out["pmc"] = pmc_partition(starts, counts, unit, vs, 0.5)
    out["swing"] = swing_partition(starts, counts, unit, vs, 0.5)
    return out


def _assert_same(got, want):
    if isinstance(got, np.ndarray):
        assert got.dtype == want.dtype
        assert np.array_equal(got, want)
    elif isinstance(got, (tuple, list)) and not isinstance(got, bytes):
        assert len(got) == len(want)
        for g, w in zip(got, want):
            _assert_same(g, w)
    else:
        assert got == want


def test_variant_reference_fallback_matches_native(monkeypatch, caplog):
    """The value-only and lossy entry points fall back like the v2
    ones: with the kernel unloaded they run the scalar reference and
    return the same payloads, n_bits, decoded words and segments (with
    the same dtypes), raise the same value-only decode errors, and log
    exactly one warning."""
    starts, counts, _, ts, vb = _random_partition(8)
    want = _variant_results(starts, counts, ts, vb)

    monkeypatch.setattr(native, "_TRIED", True)
    monkeypatch.setattr(native, "_LIB", None)
    monkeypatch.setattr(native, "_WHY", "disabled by the test")
    monkeypatch.setattr(native, "_WARNED", False)
    with caplog.at_level(logging.WARNING, logger=native.__name__):
        got = _variant_results(starts, counts, ts, vb)
    assert got.keys() == want.keys()
    for name in want:
        _assert_same(got[name], want[name])
    warnings = [r for r in caplog.records if r.name == native.__name__]
    assert len(warnings) == 1
    assert "disabled by the test" in warnings[0].getMessage()
