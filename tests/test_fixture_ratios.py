"""Pin the compression ratio of the native block encoder on every
committed codec corpus (tests/fixtures/*.json.gz, non-empty).

The basel ratio pins (test_basel_ratios.py) need the reference's
datasets and skip without them; these corpora are in the repository,
so a ratio drift of the engine's encoder is caught everywhere.  Each
corpus's points (ts, value word; 32-bit words zero-extended) are
encoded as one block, with the last-value predictor and with
DifferentialFCM-1024, and the exact payload bit counts are pinned —
bits per point is ``bits / n``.  The codec is deterministic, so any
change is a codec change, not noise.
"""
from __future__ import annotations

import numpy as np
import pytest

from gorilla_tsc_spark.codec import native
from gorilla_tsc_spark.codec.gorilla import dfcm_table_size

from .conftest import fixture_names, load_fixture

pytestmark = pytest.mark.skipif(native.get_lib() is None,
                                reason="no C compiler available")

# name: (points, bits last-value, bits dfcm1024)  # bits/point each
PINS = {
    "copyflush": (2, 218, 218),               # 109.000 / 109.000
    "dfcm": (10000, 670076, 670076),          # 67.008 / 67.008
    "dod_buckets": (20, 702, 673),            # 35.100 / 33.650
    "large_random": (100000, 6507907, 6594731),  # 65.079 / 65.947
    "long_channel": (10000, 340215, 668813),  # 34.022 / 66.881
    "lossy32_e-1": (1500, 42301, 52669),      # 28.201 / 35.113
    "lossy32_e-5": (1500, 42301, 52669),      # 28.201 / 35.113
    "lossy32_e0": (1500, 42301, 52669),       # 28.201 / 35.113
    "lossy32_e3": (1500, 42301, 52669),       # 28.201 / 35.113
    "pmc_e-3": (2000, 56309, 70177),          # 28.154 / 35.089
    "pmc_e0": (2000, 56309, 70177),           # 28.154 / 35.089
    "pmc_e3": (2000, 56309, 70177),           # 28.154 / 35.089
    "pmc_simple": (50, 1887, 1935),           # 37.740 / 38.700
    "similar_floats": (5, 260, 275),          # 52.000 / 55.000
    "simple8": (8, 645, 645),                 # 80.625 / 80.625
    "special_floats": (10, 731, 731),         # 73.100 / 73.100
    "swing_e-3": (2000, 56309, 70177),        # 28.154 / 35.089
    "swing_e0": (2000, 56309, 70177),         # 28.154 / 35.089
    "swing_e3": (2000, 56309, 70177),         # 28.154 / 35.089
    "swing_simple": (50, 1887, 1935),         # 37.740 / 38.700
    "ts52": (64, 945, 533),                   # 14.766 / 8.328
    "v1_blend": (254, 5271, 16427),           # 20.752 / 64.673
    "v1_doubles": (3013, 171896, 201927),     # 57.051 / 67.019
    "v1_long": (5000, 170215, 333813),        # 34.043 / 66.763
    "v1_single": (1, 192, 192),               # 192.000 / 192.000
    "v32_floats": (3000, 84301, 105169),      # 28.100 / 35.056
    "v32_long": (3000, 102196, 200085),       # 34.065 / 66.695
    "v32_similar": (5, 260, 262),             # 52.000 / 52.400
    "willitblend": (254, 7705, 18861),        # 30.335 / 74.256
}


def test_every_corpus_pinned():
    have = {n for n in fixture_names() if load_fixture(n)["input"]["points"]}
    assert have == set(PINS)


@pytest.mark.parametrize("name", sorted(PINS))
def test_native_bits_per_point(name):
    inp = load_fixture(name)["input"]
    ts = np.array([t for t, _ in inp["points"]], np.int64)
    vb = np.array([int(v, 16) for _, v in inp["points"]], np.uint64)
    one = (np.array([0], np.int64), np.array([len(ts)], np.int64),
           np.array([inp["blockts"] or 0], np.int64))
    got = tuple(
        int(native.encode_many(*one, ts, vb,
                               pred_size=dfcm_table_size(p))[1][0])
        for p in (None, "dfcm1024"))
    n, *want = PINS[name]
    assert len(ts) == n
    assert got == tuple(want), [b / n for b in got]
