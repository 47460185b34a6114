"""End-to-end benchmark of the gorilla_tsc_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_sparse --seed 1 --seconds 5 --trace 0

One run starts ``local[<nproc>]`` Spark in this process through the
engine's own ``session.get_spark``, generates the workload's corpus
from ``--seed`` (``corpus.py``), and warms the JVM and the Python
workers up by encoding a small corpus; all of that is set-up
(``setup_s``).  The
measured cycle then drives one day in the life of a warehouse through
the engine's public entry points:

1. ``run_pipeline`` of the corpus into a fresh warehouse (ingest);
2. ``compact_blocks`` and ``audit_blocks`` + ``audit_summary``, each
   repeated, the median kept;
3. closed-loop serve reads (``retention.read_range`` of one
   conversation over a 6 h window, one client) for ``--seconds``.

Each timed operation is measured both in wall time and in CPU time of
the process tree (the driver JVM and its Python workers, from /proc);
the end-to-end metrics are the CPU-time figures (see ``END_TO_END``).
Every output is checked against a NumPy reference (``check.py``); an
exception or a mismatch counts as a failed operation.  Stdout carries
one line per metric (name, value, unit), a ``stamp`` line saying what
ran where, and, last, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

``--trace 1`` repeats the cycle with spans around each call into a
layer, a Spark job group per span and the event log on (``spans.py``).
Between steps 2 and 3 it adds the ``jobs/tiers_job.py`` family build
(``ops.py``), ``run_pipeline`` of a ~5 % new-day batch into the
populated warehouse (incremental ingest), the noop-sink encode ladder
and in-process codec rates, and it writes every span to
``.bench_work/trace-<workload>-<seed>.json``.  End-to-end numbers only
come from ``--trace 0`` runs.  Both modes print a ``wall`` line with the
wall-clock throughputs and ``cycle_s``, the wall time of steps 1-2: a
traced run's minus an untraced run's of the same seed is the tracing
overhead (``record.py`` takes it).

Everything the run writes stays under ``.bench_work/`` in the current
directory (Spark local dirs, the compiled codec kernel cache, event
logs, warehouses); per-run scratch is removed at exit.
"""
from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

WORKLOADS = {
    # ~12k turns in 4k conversations over two days: ~3 points per block
    "ingest_sparse": {"shape": "sparse", "n_convs": 4_000, "days": 2},
    # ~32k turns in 16 Zipf-hot conversations, each about one day long:
    # thousands of points per block
    "ingest_dense": {"shape": "dense", "n_convs": 16, "n_turns": 32_000, "days": 1},
}
NEW_DAY_SHARE = 0.05
WARMUP_SHARE = 0.05  # warm-up corpus size, as a share of the workload's
READ_WINDOW_MS = 6 * 3_600_000
MIN_READS = 5
COMPACT_REPS = 3
AUDIT_REPS = 5
TRACE_READS = 3
# driver JVM heap (executors live in it in local mode): fits a 15 GB host
# next to the Python workers
DRIVER_MEM = "2g"

# Work per CPU-second of the process tree (driver JVM + Python workers),
# not per wall-second: on a shared host the wall time of the same run
# moves by a quarter with the neighbours' load, its CPU time by a few
# percent.  The wall-clock figures are printed on the ``wall`` line.
END_TO_END = {
    "setup_s": "s",
    "ingest_turns_per_cpu_s": "turns/cpu_s",
    "payload_bytes_per_point": "B/pt",
    "store_bytes_per_turn": "B/turn",
    "read_p50_cpu_ms": "cpu_ms",
    "compact_blocks_per_cpu_s": "blocks/cpu_s",
    "audit_blocks_per_cpu_s": "blocks/cpu_s",
    "peak_rss_mb": "MB",
}

_FAMILIES = ("corr", "twa", "hb", "hist", "candle", "autocorr", "exphist", "trend", "smooth")
_SPARK = {"run_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_read_bytes": "B",
          "shuffle_write_bytes": "B", "spill_bytes": "B", "python_bytes_in": "B",
          "python_bytes_out": "B", "tasks": "count", "failed_tasks": "count"}
# every metric a --trace 1 run reports, with its unit
PER_LAYER = {
    "encode.scan_s": "s", "encode.project_s": "s", "encode.pack_s": "s",
    "encode.kernel_s": "s", "encode.stage_s": "s", "encode.python_bytes_in": "B",
    "encode.python_bytes_out": "B", "encode.shuffle_write_bytes": "B",
    "codec.encode_s": "s", "codec.decode_s": "s",
    "codec.encode_mpts_per_s": "Mpts/s", "codec.decode_mpts_per_s": "Mpts/s",
    "checkpoint.log_blocks_s": "s", "checkpoint.log_rows_s": "s",
    "checkpoint.lineage_s": "s", "checkpoint.rows_per_block": "ratio",
    "pipeline.ingest_s": "s", "pipeline.incremental_s": "s",
    "pipeline.read_blocks_s": "s", "pipeline.read_blocks_plan_s": "s",
    "pipeline.read_blocks_shuffle_bytes": "B",
    "rollup.decode_rollup_s": "s", "rollup.cascade_s": "s", "gapfill.fill_s": "s",
    "retention.expire_s": "s", "tables.write_s": "s",
    "retention.read_range_s": "s", "retention.read_amplification": "ratio",
    "families.total_s": "s", "families.points_per_cpu_s": "points/cpu_s",
    "families.decode_s": "s",
    **{f"families.{f}_s": "s" for f in _FAMILIES},
    "families.shuffle_stages": "count", "families.shuffle_bytes": "B",
    "compact.rewrite_s": "s", "compact.blocks_out_per_in": "ratio", "audit.scan_s": "s",
    "trace.cycle_s": "s", "trace.span_coverage": "ratio", "trace.layer_coverage": "ratio",
    **{f"spark_{op}.{m}": u for op in ("ingest", "families", "incremental", "compact",
                                        "audit", "read") for m, u in _SPARK.items()},
}


class ProcTree(threading.Thread):
    """This process and every descendant (the driver JVM and its Python
    workers), read from /proc: the peak of their summed RSS, sampled in
    the background, and their summed CPU time, read on demand."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def _pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
            except OSError:
                continue
            out.append(pid)
            # a JVM child still running java is mid-spawn (vfork before
            # exec) and shares the JVM's pages: skip it, or the JVM would
            # be counted twice.  Forked Python workers have their own pages.
            for c in children.get(pid, []):
                try:
                    if not (os.path.basename(exe) == "java"
                            and os.readlink(f"/proc/{c}/exe") == exe):
                        todo.append(c)
                except OSError:
                    pass
        return out

    def rss(self) -> int:
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def cpu_s(self) -> float:
        """User + system time of the tree, including children that have
        exited and been waited for (Python workers)."""
        ticks = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ticks += sum(map(int, f.read().rsplit(")", 1)[1].split()[11:15]))
            except (OSError, IndexError, ValueError):
                pass
        return ticks / self._tick

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, self.rss())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def _stop_spark(spark, tree: ProcTree) -> None:
    """Stop the session, end the JVM that PySpark launched (it exits when
    its stdin closes) and wait until every process it started is gone."""
    from pyspark import SparkContext
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tree._pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _stamp(root: str, seed: int, spark, native_ok: bool) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                                capture_output=True, timeout=10).stdout.strip()
    except OSError:
        commit = ""
    h = hashlib.sha256()
    pkg = os.path.join(root, "gorilla_tsc_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith((".py", ".c")):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "commit": commit or None,
        "engine_sha256": h.hexdigest()[:16],
        "seed": seed,
        "kernel": "native" if native_ok else "fallback",
        # a fallback-codec run measures a different program
        "valid": native_ok,
        "driver_mem": DRIVER_MEM,
    }


class Run:
    """One benchmark run: set-up, the measured cycle, checks."""

    def __init__(self, args, root: str, work: str) -> None:
        self.args = args
        self.root = root
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.n_reads = 0
        self.wall: dict[str, float] = {}    # wall-clock figures

    # -- bookkeeping -------------------------------------------------------

    def op(self, name: str, fn, *args):
        """Run one operation; an exception or a failed check (``fn``
        returning False) counts as a failed operation."""
        self.attempted += 1
        try:
            ok = fn(*args)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            import traceback
            traceback.print_exc(file=sys.stderr)
            ok, name = False, f"{name}: {type(exc).__name__}: {exc}"
        if ok is False:
            self.failed += 1
            self.failures.append(name)
            print(f"FAILED {name}", file=sys.stderr, flush=True)
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def timed(self, into: list):
        """Appends the block's (wall s, CPU s of the process tree) to
        ``into``."""
        c0 = self.proc.cpu_s()
        t0 = time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        into.append((wall, self.proc.cpu_s() - c0))

    # -- set-up --------------------------------------------------------------

    def setup(self, t_start: float) -> None:
        import corpus
        import numpy as np

        from gorilla_tsc_spark.codec import native
        from gorilla_tsc_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.args.trace:
            os.makedirs(self.path("events"))
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{self.args.workload}",
                               cores=len(os.sched_getaffinity(0)), extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")

        seed, spec = self.args.seed, self.spec
        self.base = self.generate(seed, 1.0)
        self.new_day = corpus.next_day(seed, self.base, NEW_DAY_SHARE,
                                       new_convs=spec["shape"] == "sparse")
        self.corpus_dir = self.path("gen", "corpus")
        self.new_day_dir = self.path("gen", "new_day")
        self.base.write(self.corpus_dir)
        self.new_day.write(self.new_day_dir)

        self.native_ok = native.get_lib() is not None
        self.stamp = _stamp(self.root, seed, self.spark, self.native_ok)
        self.op("native codec kernel loaded (a fallback run is invalid)",
                lambda: self.native_ok)
        t_warm = time.perf_counter()
        self.op("warm-up", self.warm_up)
        t_warm = time.perf_counter() - t_warm
        # Spark's xxhash64 of every pooled text: the text_hash reference
        texts = self.base.texts
        rows = self.spark.createDataFrame(list(enumerate(texts)), "i long, text string")
        hashes = dict(rows.selectExpr("i", "xxhash64(text)").collect())
        self.text_hash = np.array([hashes[i] for i in range(len(texts))], np.int64)
        self.e2e["setup_s"] = time.perf_counter() - t_start
        print(f"setup: {self.e2e['setup_s']:.1f} s, of which warm-up {t_warm:.1f} s",
              file=sys.stderr)

    def generate(self, seed: int, share: float):
        import corpus
        spec = self.spec
        if spec["shape"] == "sparse":
            return corpus.sparse(seed, max(1, int(spec["n_convs"] * share)), spec["days"])
        return corpus.dense(seed, spec["n_convs"], int(spec["n_turns"] * share), spec["days"])

    def warm_up(self) -> None:
        """Encode a small corpus and write the blocks, so the measured
        ingest does not pay for Python worker start-up, class loading and
        most code generation.  In a fresh JVM the first ``run_pipeline``
        takes about twice as long as the next one, most of the difference
        in ``encode_stage``; this takes away most of that difference at
        well under the cost of a throwaway ingest.  Warming compaction,
        audit and reads as well cost about 6 s more set-up per run and
        did not make their figures steadier."""
        from gorilla_tsc_spark.functions.channels import default_channels
        from gorilla_tsc_spark.operators.encode import encode_points, points_for_encode
        work = self.path("warmup")
        self.generate(self.args.seed, WARMUP_SHARE).write(os.path.join(work, "corpus"))
        chans = default_channels()
        src = self.spark.read.parquet(os.path.join(work, "corpus"))
        encode_points(points_for_encode(src, chans), chans).write.parquet(
            os.path.join(work, "blocks"))
        shutil.rmtree(work, ignore_errors=True)

    # -- checks --------------------------------------------------------------

    def check_store(self, warehouse: str, ref) -> bool:
        """Decoded blocks hash-equal the reference; rollup tiers count
        every aggregated point exactly once at 1m, 1h and 1d."""
        import check

        from gorilla_tsc_spark.codec.native import decode_many
        blocks = check.read_blocks_table(os.path.join(warehouse, "gorilla_blocks"))
        with self.tracer.span("codec.decode_many"):
            got, n = check.decode_table(blocks, decode_many)
        self.decoded = (blocks, n)
        ok = got == ref.digest()
        want = (2 * len(ref.ts), ref.agg_sum())
        for tier in ("rollup_1m", "rollup_1h", "rollup_1d"):
            ok &= check.tier_totals(os.path.join(warehouse, tier)) == want
        return ok

    def check_reencode(self) -> bool:
        """``codec.batch.encode_partition`` over the decoded points of
        every block reproduces the stored payloads byte for byte."""
        import numpy as np

        from gorilla_tsc_spark.codec.batch import encode_partition
        from gorilla_tsc_spark.codec.native import decode_many
        blocks, n = self.decoded
        payloads = [p.as_py() for p in blocks.column("payload").combine_chunks()]
        counts = blocks.column("n_points").to_numpy().astype(np.int64)
        t0 = time.perf_counter()
        ts, bits, _ = decode_many(payloads, counts)
        t_dec = time.perf_counter() - t0
        starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
        block_ts = blocks.column("block_start").to_numpy().astype(np.int64)
        with self.tracer.span("codec.encode_partition"):
            t0 = time.perf_counter()
            out, _ = encode_partition(starts, counts, block_ts, ts, bits)
            t_enc = time.perf_counter() - t0
        self.layer["codec.decode_s"] = t_dec
        self.layer["codec.encode_s"] = t_enc
        self.layer["codec.decode_mpts_per_s"] = n / t_dec / 1e6
        self.layer["codec.encode_mpts_per_s"] = n / t_enc / 1e6
        return out == payloads

    # -- the measured cycle --------------------------------------------------

    def cycle(self) -> None:
        import check
        import numpy as np
        import ops

        spark, tr = self.spark, self.tracer
        seed = self.args.seed
        ref = check.Reference(self.base, self.text_hash)
        ref_all = check.merged(ref, check.Reference(self.new_day, self.text_hash))
        wh = self.path("warehouse")
        t_measure = time.perf_counter()

        # 1. fresh ingest
        res = {}

        def ingest():
            m = []
            with tr.span("op.ingest"), tr.patched(), self.timed(m):
                r = ops.ingest(spark, self.corpus_dir, wh)
            (wall, cpu), = m
            res["blocks"] = r.n_blocks
            self.e2e["ingest_turns_per_cpu_s"] = self.base.n / cpu
            self.wall["ingest_turns_per_s"] = self.base.n / wall
            self.e2e["payload_bytes_per_point"] = r.payload_bytes / r.n_points
            self.e2e["store_bytes_per_turn"] = check.dir_bytes(wh) / self.base.n
            self.layer["pipeline.ingest_s"] = wall
            return r.n_points == 3 * self.base.n and self.check_store(wh, ref)

        if not self.op("ingest", ingest):
            # nothing downstream can run on a missing or wrong store
            n_down = COMPACT_REPS + AUDIT_REPS + MIN_READS
            self.attempted += n_down
            self.failed += n_down
            self.failures.append(f"{n_down} operations after the failed ingest")
            return

        # 2. compaction, audit
        def compact(m):
            out = self.path("compacted")
            with tr.span("op.compact"), tr.span("compact.rewrite"), self.timed(m):
                ops.compact(spark, wh, out)
            from gorilla_tsc_spark.codec.native import decode_many
            blocks = check.read_blocks_table(out)
            self.layer["compact.blocks_out_per_in"] = blocks.num_rows / res["blocks"]
            got, _ = check.decode_table(blocks, decode_many)
            return got == ref.digest()

        def audit(m):
            with tr.span("op.audit"), tr.span("audit.scan"), self.timed(m):
                summary = ops.audit(spark, wh)
            return (summary["n_blocks"] == res["blocks"]
                    and all(v == 0 for k, v in summary.items() if k.startswith("bad_")))

        # jobs of a second or two: the median of a few repetitions keeps
        # the first, still warming one out of the figure (the dense
        # store's audit is under a second of CPU, so it gets more)
        for name, fn, reps in (("compact", compact, COMPACT_REPS),
                               ("audit", audit, AUDIT_REPS)):
            m = []
            for _ in range(reps):
                self.op(name, fn, m)
            if m:
                self.e2e[f"{name}_blocks_per_cpu_s"] = (
                    res["blocks"] / statistics.median(c for _, c in m))
                self.wall[f"{name}_blocks_per_s"] = (
                    res["blocks"] / statistics.median(w for w, _ in m))
        cycle_s = self.wall["cycle_s"] = time.perf_counter() - t_measure

        if self.args.trace:
            self.layer["trace.cycle_s"] = cycle_s
            # top-level spans that ran inside the cycle, over its wall time
            self.layer["trace.span_coverage"] = sum(
                tr.dur(s["id"]) for s in tr.spans if s["parent"] is None) / cycle_s

            # tier families (traced runs only)
            def families():
                tiers, m = self.path("tiers"), []
                with tr.span("op.families"), self.timed(m):
                    with tr.span("families.decode"):
                        pts = ops.decode_points(spark, wh)
                        n_pts = pts.count()
                    for name, build in ops.family_builds(spark, pts, tiers):
                        with tr.span(f"families.{name}"):
                            build()
                    pts.unpersist()
                (wall, cpu), = m
                self.layer["families.points_per_cpu_s"] = n_pts / cpu
                self.layer["families.total_s"] = wall
                # every family table covers each decoded X_CH point once
                # (corr: each (X_CH, Y_CH) pair)
                tables = sorted(os.listdir(tiers))
                return (n_pts == 2 * self.base.n and len(tables) == len(_FAMILIES)
                        and all(check.covered_points(os.path.join(tiers, t)) == self.base.n
                                for t in tables))

            self.op("families", families)

            # incremental ingest of the new-day batch (traced runs only)
            def incremental():
                m = []
                with tr.span("op.incremental"), tr.patched(), self.timed(m):
                    r = ops.ingest(spark, self.new_day_dir, wh)
                self.layer["pipeline.incremental_s"] = m[0][0]
                return r.n_points == 3 * len(ref_all.ts) and self.check_store(wh, ref_all)

            if self.op("incremental ingest", incremental):
                ref = ref_all
            self.op("codec re-encode", self.check_reencode)
            self.traced_probes(wh)

        # 3. closed-loop serve reads, one client, for --seconds
        rng = np.random.default_rng([seed, 4])
        conv_ids = self.base.conv_ids()
        blocks, _ = self.decoded
        meta = {c: blocks.column(c).to_numpy() for c in ("n_points", "first_ts", "last_ts")}
        meta["conv"] = check.conv_codes(blocks.column("conv_id"))
        lat, amp = [], [0, 0]
        deadline = time.perf_counter() + self.args.seconds

        def read(lat, i):
            conv, mid = int(self.base.conv[i]), int(self.base.ts_ms[i])
            t0, t1 = mid - READ_WINDOW_MS // 2, mid + READ_WINDOW_MS // 2
            with tr.span("op.read"), tr.span("retention.read_range"), self.timed(lat):
                rows = ops.serve_read(spark, wh, conv_ids[i], t0, t1)
            hit = (meta["conv"] == conv) & (meta["last_ts"] >= t0) & (meta["first_ts"] < t1)
            amp[0] += int(meta["n_points"][hit].sum())
            amp[1] += len(rows)
            chan = check.chan_codes([r.channel for r in rows])
            vd = np.array([r.v_double if c == 0 else 0.0 for r, c in zip(rows, chan)], np.float64)
            vl = np.array([r.v_long if c != 0 else 0 for r, c in zip(rows, chan)], np.int64)
            bits = np.where(chan == 0, vd.view(np.uint64), vl.view(np.uint64))
            ts = np.array([r.ts_ms for r in rows], np.int64)
            got = check.digest(np.full(len(rows), conv), chan, ts, bits)
            mask = (ref.conv == conv) & (ref.ts >= t0) & (ref.ts < t1)
            return got == ref.digest(mask)

        for _ in range(TRACE_READS if self.args.trace else MIN_READS):
            self.op("serve read", read, lat, int(rng.integers(0, self.base.n)))
        while not self.args.trace and time.perf_counter() < deadline:
            self.op("serve read", read, lat, int(rng.integers(0, self.base.n)))
        self.n_reads = len(lat)
        if lat:
            self.e2e["read_p50_cpu_ms"] = statistics.median(c for _, c in lat) * 1e3
            self.wall["read_p50_ms"] = statistics.median(w for w, _ in lat) * 1e3
            self.layer["retention.read_range_s"] = statistics.median(w for w, _ in lat)
            self.layer["retention.read_amplification"] = amp[0] / max(amp[1], 1)

    def traced_probes(self, wh: str) -> None:
        """Noop-sink encode ladder and a read_blocks scan (trace runs)."""
        from gorilla_tsc_spark.functions.channels import default_channels
        from gorilla_tsc_spark.operators.encode import (encode_points, pack_blocks,
                                                        points_for_encode)
        from gorilla_tsc_spark.pipeline import read_blocks

        chans = default_channels()
        src = self.spark.read.parquet(self.corpus_dir)
        steps = (
            ("scan", lambda: src),
            ("project", lambda: points_for_encode(src, chans)),
            ("pack", lambda: pack_blocks(points_for_encode(src, chans), chans)),
            ("kernel", lambda: encode_points(points_for_encode(src, chans), chans)),
        )
        prev = 0.0
        for name, df in steps:
            with self.tracer.span(f"encode.ladder_{name}"):
                t0 = time.perf_counter()
                df().write.format("noop").mode("overwrite").save()
                cum = time.perf_counter() - t0
            self.layer[f"encode.{name}_s"] = cum - prev
            prev = cum
        with self.tracer.span("pipeline.read_blocks_scan"):
            t0 = time.perf_counter()
            read_blocks(self.spark, wh).write.format("noop").mode("overwrite").save()
            self.layer["pipeline.read_blocks_s"] = time.perf_counter() - t0

    # -- per-layer metrics from spans + event log ----------------------------

    def layer_metrics(self) -> None:
        import pyarrow.dataset as ds
        import spans

        tr = self.tracer
        groups = spans.event_log_metrics(spans.find_event_log(self.path("events")))
        L = self.layer

        def sm(name, metric, under=None):
            return sum(spans.span_metrics(tr, groups, s)[metric]
                       for s in tr.named(name, under))

        # the layers of the fresh ingest (the traced incremental ingest
        # has its own spans under op.incremental)
        ING = "op.ingest"
        L["encode.stage_s"] = tr.total("encode.stage", ING)
        L["encode.python_bytes_in"] = sm("encode.stage", "python_bytes_in", ING)
        L["encode.python_bytes_out"] = sm("encode.stage", "python_bytes_out", ING)
        L["encode.shuffle_write_bytes"] = sm("encode.ladder_kernel", "shuffle_write_bytes")
        L["checkpoint.log_blocks_s"] = tr.total("checkpoint.log_blocks", ING)
        L["checkpoint.log_rows_s"] = tr.total("checkpoint.log_rows", ING)
        L["checkpoint.lineage_s"] = L["checkpoint.log_blocks_s"] + L["checkpoint.log_rows_s"]
        ck = ds.dataset(self.path("warehouse", "checkpoints"), format="parquet").count_rows()
        blk = ds.dataset(self.path("warehouse", "gorilla_blocks"), format="parquet").count_rows()
        L["checkpoint.rows_per_block"] = ck / blk
        L["pipeline.read_blocks_plan_s"] = tr.total("pipeline.read_blocks", ING)
        L["pipeline.read_blocks_shuffle_bytes"] = sm("pipeline.read_blocks_scan",
                                                     "shuffle_write_bytes")
        tables = ("rollup.decode_rollup", "rollup.cascade", "gapfill.fill", "retention.expire")
        for name in tables:
            L[f"{name}_s"] = tr.total(name, ING)
        L["tables.write_s"] = sum(L[f"{name}_s"] for name in tables)
        L["families.decode_s"] = tr.total("families.decode")
        for name in _FAMILIES:
            L[f"families.{name}_s"] = tr.total(f"families.{name}")
        L["families.shuffle_stages"] = sm("op.families", "shuffle_stages")
        L["families.shuffle_bytes"] = sm("op.families", "shuffle_write_bytes")
        L["compact.rewrite_s"] = tr.total("compact.rewrite") / COMPACT_REPS
        L["audit.scan_s"] = tr.total("audit.scan") / AUDIT_REPS
        for op in ("ingest", "families", "incremental", "compact", "audit", "read"):
            for metric in _SPARK:
                L[f"spark_{op}.{metric}"] = sm(f"op.{op}", metric)

        # share of each timed operation's wall time that its layer spans
        # account for (the reads' only child span is the read itself)
        roots = [s["id"] for s in tr.spans if s["parent"] is None
                 and s["name"].startswith("op.") and s["name"] != "op.read"]
        L["trace.layer_coverage"] = (sum(tr.dur(c) for r in roots for c in tr.children(r))
                                     / sum(tr.dur(r) for r in roots))
        self.groups = groups


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gorilla_tsc_spark", "pipeline.py")):
        print("perfbench: run from the repository root (gorilla_tsc_spark/ not found)",
              file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the engine, its Spark workers and the codec kernel cache all see
    # only paths inside the checkout
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH")))),
        "HOME": os.path.join(base, "home"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    sys.path.insert(0, root)
    from spans import Tracer

    rss = ProcTree()
    rss.start()
    run = Run(args, root, work)
    run.proc = rss
    run.tracer = Tracer()
    try:
        run.setup(t_start)
        if args.trace:
            run.tracer = Tracer(run.spark.sparkContext, enabled=True)
        run.cycle()
        _stop_spark(run.spark, rss)
        run.spark = None
        run.e2e["peak_rss_mb"] = rss.stop()
        if args.trace:
            run.op("per-layer metrics", run.layer_metrics)
    finally:
        if getattr(run, "spark", None) is not None:
            _stop_spark(run.spark, rss)
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        with open(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"stamp": run.stamp, "spans": run.tracer.spans,
                       "groups": getattr(run, "groups", {}), "layers": run.layer},
                      f, indent=1)

    metrics, units = (run.layer, PER_LAYER) if args.trace else (run.e2e, END_TO_END)
    print("stamp " + json.dumps(run.stamp))
    if run.failures:
        print("failures " + json.dumps(run.failures))
    for name, unit in units.items():
        print(f"{name} {metrics.get(name, float('nan')):.6g} {unit}")
    print(f"reads {run.n_reads}")
    print("wall " + json.dumps(run.wall))
    print(f"failed_op_share {run.failed / run.attempted:.6g} ratio")
    out = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
           for name, unit in units.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
