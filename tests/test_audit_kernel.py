"""The audit kernel's decode flags (operators/audit.py::_audit_iter)
equal a per-block reference loop on batches that mix NaN data,
``long``-kind blocks, NULL aggregates (checked like any other) and
tampered metadata — both when the batch decodes in one call and when a
corrupt member forces per-block isolation.  No Spark: the kernel runs
on the pandas batches mapInPandas would hand it."""
from __future__ import annotations

import numpy as np
import pandas as pd

from gorilla_tsc_spark.codec.batch import decode_partition, encode_partition
from gorilla_tsc_spark.operators.audit import _audit_iter

DAY = 86_400_000
FLAGS = ["ok_crc", "ok_len", "ok_span", "ok_decode", "ok_aggs"]


def _reference_flags(pdf):
    """Per-block loop: decode each block alone, recompute its
    aggregates with the encoders' sequential fold."""
    ok_decode, ok_aggs = [], []
    for r in pdf.itertuples():
        try:
            ts, vb, _ = decode_partition([bytes(r.payload)],
                                         np.array([r.n_points], np.int64))
        except ValueError:
            ok_decode.append(False)
            ok_aggs.append(False)
            continue
        ok_decode.append(len(ts) == r.n_points and (
            len(ts) == 0 or (ts[0] == r.first_ts and ts[-1] == r.last_ts)))
        vals = (vb.view(np.float64) if r.kind == "double"
                else vb.view(np.int64).astype(np.float64))

        def feq(x, y):
            return x == y or (np.isnan(x) and np.isnan(y))
        ok_aggs.append(bool(
            len(vals) and r.agg_cnt == len(vals)
            and feq(r.agg_min, vals.min()) and feq(r.agg_max, vals.max())
            and feq(r.agg_sum, np.add.reduceat(vals, [0])[0])))
    return pd.DataFrame({"ok_decode": ok_decode, "ok_aggs": ok_aggs})


def _batch():
    rng = np.random.default_rng(5)
    blocks = []   # (kind, ts, values)
    for i in range(24):
        n = int(rng.integers(1, 40))
        ts = i * DAY + np.cumsum(rng.integers(1, 60_000, n)).astype(np.int64)
        if i % 3 == 0:     # long kind, 2^62-magnitude hashes
            v = rng.integers(-(1 << 62), 1 << 62, n, dtype=np.int64)
            blocks.append(("long", ts, v.view(np.uint64)))
            continue
        v = rng.normal(0, 1e6, n)
        if i % 4 == 1:
            v[n // 2] = np.nan          # NaN data → NaN aggregates
        blocks.append(("double", ts, v.view(np.uint64)))
    counts = np.array([len(b[1]) for b in blocks], np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    ts = np.concatenate([b[1] for b in blocks])
    vb = np.concatenate([b[2] for b in blocks])
    payloads, _ = encode_partition(starts, counts, (ts[starts] // DAY) * DAY,
                                   ts, vb)
    rows = []
    for i, (kind, t, w) in enumerate(blocks):
        vals = (w.view(np.float64) if kind == "double"
                else w.view(np.int64).astype(np.float64))
        rows.append({
            "conv_id": f"c{i}", "channel": kind, "kind": kind,
            "block_start": int(t[0] // DAY) * DAY, "seq": 0,
            "n_points": len(t), "payload": payloads[i],
            "first_ts": int(t[0]), "last_ts": int(t[-1]),
            "agg_cnt": len(t), "agg_min": vals.min(), "agg_max": vals.max(),
            "agg_sum": np.add.reduceat(vals, [0])[0],
            "ok_crc": True, "ok_len": i != 7, "ok_span": i != 8})
    pdf = pd.DataFrame(rows)
    # NULL aggregates (NaN once in pandas), one with a wrong count
    for i in (2, 5):
        pdf.loc[i, ["agg_min", "agg_max", "agg_sum"]] = np.nan
    pdf.loc[5, "agg_cnt"] += 1
    pdf.loc[4, "agg_sum"] = np.nextafter(pdf.loc[4, "agg_sum"], np.inf)
    pdf.loc[10, "agg_min"] = np.nan          # NaN agg over NaN-free data
    pdf.loc[11, "first_ts"] -= 1
    pdf.loc[14, "last_ts"] += 1
    return pdf


def _check(pdf):
    (got,) = list(_audit_iter(iter([pdf])))
    want = _reference_flags(pdf)
    pd.testing.assert_frame_equal(got[["ok_decode", "ok_aggs"]], want)
    assert got[FLAGS[:3]].equals(pdf[FLAGS[:3]])
    return got


def test_vectorized_flags_match_loop():
    got = _check(_batch())
    # the batch exercises every outcome
    assert got["ok_aggs"].sum() > 10
    assert not got.loc[[2, 4, 5, 10], "ok_aggs"].any()
    assert got.loc[13, "ok_aggs"]                # NaN data, NaN aggs
    assert not got.loc[[11, 14], "ok_decode"].any()


def test_vectorized_flags_match_loop_with_corrupt_member():
    pdf = _batch()
    pdf.loc[3, "n_points"] += 1      # fails the batch decode
    pdf.loc[9, "payload"] = pdf.loc[9, "payload"][:2]
    got = _check(pdf)
    assert not got.loc[[3, 9], ["ok_decode", "ok_aggs"]].to_numpy().any()
    assert got["ok_decode"].sum() == len(pdf) - 4   # 3, 9, 11, 14
