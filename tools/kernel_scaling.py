"""Process-level scaling of the engine's encode kernel + host
characterization.

The sandbox host is memory-bandwidth-throttled (~0.5 GB/s per process,
~1.2 GB/s aggregate — see ``host_profile``), so any data-movement-bound
stage plateaus at 2-3 cores' worth of work no matter the parallelism.
This harness isolates what the engine itself contributes: the Gorilla
batch-encode kernel is compute-dominated (bit-chain + packing ≈ 17
core·s for 22M points vs ≈ 1 GB of traffic), so its process-level
scaling reflects the engine, not the throttle.

Protocol: build W identical partition workloads; run the SAME task set
on Pool(N) and Pool(4N); efficiency = (T_N / T_4N) / 4, best of R
alternated reps.  Reported twice: on the native kernel, and on the
scalar reference the codec entry point falls back to without it (over
1/50-size partitions, since the reference is 50-800x slower).
"""
from __future__ import annotations

import json
import time
from multiprocessing import Pool

import numpy as np

DAY = 86_400_000


def _make_partition(seed: int, n_groups: int = 12_000, pts_per_group: int = 46):
    rng = np.random.default_rng(seed)
    counts = np.maximum(rng.poisson(pts_per_group, n_groups), 1).astype(np.int64)
    n = int(counts.sum())
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    bts = ((1_700_000_000_000 // DAY + (np.arange(n_groups) % 30)) * DAY).astype(np.int64)
    ts = np.concatenate([
        b + np.sort(rng.integers(1, DAY - 1, c))
        for b, c in zip(bts.tolist(), counts.tolist())]).astype(np.int64)
    vals = rng.integers(1, 500, n).astype(np.float64).view(np.uint64)
    return starts, counts, bts, ts, vals


_WORK = {}


def _init(n_work: int, reference: bool = False):
    if reference:
        from gorilla_tsc_spark.codec import native
        native._TRIED, native._LIB = True, None
    for w in range(n_work):
        _WORK[w] = _make_partition(
            1000 + w, n_groups=240 if reference else 12_000)


def _encode_task(w: int) -> int:
    from gorilla_tsc_spark.codec.batch import encode_partition
    starts, counts, bts, ts, vals = _WORK[w % len(_WORK)]
    payloads, nbits = encode_partition(starts, counts, bts, ts, vals)
    return len(payloads)


def run(procs=(2, 8), reps: int = 3, target_sec: float = 2.5,
        reference: bool = False) -> dict:
    results = {p: float("inf") for p in procs}
    pools = {}
    for p in procs:
        pools[p] = Pool(p, initializer=_init, initargs=(4, reference))
        pools[p].map(_encode_task, range(p))  # warm imports
    try:
        # calibrate the per-task cost so every timed run lasts long
        # enough to measure — the native C kernel made a single task
        # ~10 ms, which a fixed n_tasks=16 turned into pure overhead
        pmin, pmax = min(procs), max(procs)
        t0 = time.time()
        pools[pmin].map(_encode_task, range(8))
        t_task = (time.time() - t0) / 8
        n_tasks = int(min(8192, max(32, target_sec / max(t_task, 1e-4))))
        n_tasks = ((n_tasks + pmax - 1) // pmax) * pmax  # balanced waves
        for _ in range(reps):
            for p in procs:
                t0 = time.time()
                pools[p].map(_encode_task, range(n_tasks))
                results[p] = min(results[p], time.time() - t0)
    finally:
        for pool in pools.values():
            pool.terminate()
    out = {str(p): round(v, 2) for p, v in results.items()}
    out["n_tasks"] = n_tasks
    return out


def _bw(_):
    a = np.ones(100_000_000 // 8)
    t0 = time.time()
    for _ in range(5):
        a * 1.000001
    return 5 * 200 / (time.time() - t0)


def _alu(_):
    x = 0
    for i in range(20_000_000):
        x += i
    return x


def host_profile() -> dict:
    """Memory-bandwidth and ALU scaling of the host itself."""
    prof = {}
    prof["bw_1proc_MBs"] = round(_bw(0))
    for n in (8, 32):
        with Pool(n) as p:
            prof[f"bw_{n}proc_agg_MBs"] = round(sum(p.map(_bw, range(n))))
    t0 = time.time()
    _alu(0)
    base = time.time() - t0
    for n in (8, 32):
        with Pool(n) as p:
            t0 = time.time()
            p.map(_alu, range(n))
            prof[f"alu_{n}proc_speedup"] = round(n * base / (time.time() - t0), 2)
    return prof


if __name__ == "__main__":
    import os
    import sys
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    walls = {"native": run(), "reference": run(reference=True)}
    out = {"kernel_wall_sec_by_procs": walls,
           "kernel_scaling_efficiency_2to8": {
               k: round((w["2"] / w["8"]) / 4, 3) for k, w in walls.items()},
           "host": host_profile()}
    print(json.dumps(out))
