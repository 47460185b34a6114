"""Repeat ``run.py`` over seeds and add the result to a record.

Run from the repository root:

    python3 perfbench/record.py --runs 10 --out perfbench/baseline_4core.json

For each workload, makes ``--runs`` untraced runs with seeds
``--first-seed`` .. ``--first-seed + runs - 1`` and one traced run with
the first seed, and summarises them as one set of runs:

* per end-to-end metric, the values, their median and quartiles, and
  the spread (interquartile distance as a share of the median, the
  figure each metric's ``bound`` in ``BENCHMARK.json`` limits);
* the same for the wall-clock figures each run prints;
* the traced run's per-layer metrics, the tracing overhead (the traced
  run's cycle wall time minus the untraced run's of the same seed) and
  the span coverage (the traced run's top-level span time over that
  untraced wall time);
* every run's stamp.

If ``--out`` exists, the set is appended to the sets already in it, so
a record keeps every set of runs made, in or out of bounds.  A later
change is compared against a record made the same way on the same host.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    result = json.loads(lines[-1])
    stamp = next(json.loads(ln[6:]) for ln in lines if ln.startswith("stamp "))
    wall = next(json.loads(ln[5:]) for ln in lines if ln.startswith("wall "))
    result.update(wall_s=time.time() - t0, stamp=stamp, wall=wall)
    return result


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--note", default="", help="free text stored with the set")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"sets": []}
    if os.path.exists(args.out):
        with open(args.out) as f:
            record = json.load(f)
    this = {"started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "first_seed": args.first_seed, "runs": args.runs, "note": args.note,
            "benchmark": bench, "workloads": {}}
    record["sets"].append(this)
    for w in names:
        runs = [one_run(w, args.first_seed + i, seconds, 0) for i in range(args.runs)]
        metrics = {m: summary([r["metrics"][m]["value"] for r in runs]) for m in bounds}
        for m, s in metrics.items():
            s["bound"] = bounds[m]
            print(f"{w} {m} median {s['median']:.6g} spread {s['spread']:.3f} "
                  f"bound {bounds[m]}", flush=True)
        entry = {
            "end_to_end": metrics,
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "correct": all(r["correct"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
            # wall-clock figures of the same runs (no bound)
            "wall_clock": {k: summary([r["wall"][k] for r in runs]) for k in runs[0]["wall"]},
            "stamps": [r["stamp"] for r in runs],
        }
        traced = one_run(w, args.first_seed, seconds, 1)
        layer = {k: v["value"] for k, v in traced["metrics"].items()}
        untraced = runs[0]["wall"]["cycle_s"]
        entry["traced"] = {
            "seed": args.first_seed, "correct": traced["correct"],
            "wall_s": traced["wall_s"],
            "trace_overhead_s": traced["wall"]["cycle_s"] - untraced,
            "span_coverage": layer["trace.span_coverage"] * layer["trace.cycle_s"] / untraced,
            "per_layer": layer,
        }
        print(f"{w} traced: overhead {entry['traced']['trace_overhead_s']:.3f} s, "
              f"span coverage {entry['traced']['span_coverage']:.3f}", flush=True)
        this["workloads"][w] = entry
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
