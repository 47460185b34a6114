"""Spans recorded from outside the engine, and the Spark event-log
parser that puts stage metrics on them.

A span wraps one public call into a layer.  Each span runs under its
own Spark job group, so every stage the call triggers can be attributed
to it from the local event log after the session stops.  Spans are kept
in memory and written out when the benchmark ends.

``patched`` temporarily wraps the engine's module-level entry points
that ``pipeline.run_pipeline`` calls (``encode_stage``, ``write_tier``,
the checkpoint log, ``read_blocks``, ``decode_blocks``), so the layers
inside an ingest get spans without any change to the engine.
``read_blocks`` and ``decode_blocks`` only build a plan; their spans
measure planning, and their execution shows up inside the spans that
write their output.
"""
from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# pipeline.write_tier's tier argument -> the layer that produced the table
_TIER_LAYER = {
    "rollup_1m": "rollup.decode_rollup",
    "rollup_1h": "rollup.cascade",
    "rollup_1d": "rollup.cascade",
    "rollup_1m_filled": "gapfill.fill",
}


class Tracer:
    """Records nested spans; ``enabled=False`` makes every span free."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"span{parent}", self.spans[parent]["name"])

    def wrap(self, fn, name_of):
        """``fn`` with a span around each call; ``name_of(*args)`` names it."""
        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self):
        """Spans around the layers ``run_pipeline`` calls into."""
        if not self.enabled:
            yield
            return
        from gorilla_tsc_spark import pipeline
        from gorilla_tsc_spark.operators.checkpoint import CheckpointLog

        def tier_layer(df, warehouse, tier, *a, **k):
            return _TIER_LAYER.get(tier, "retention.expire")

        targets = [
            (pipeline, "encode_stage", lambda *a, **k: "encode.stage"),
            (pipeline, "write_tier", tier_layer),
            (pipeline, "read_blocks", lambda *a, **k: "pipeline.read_blocks"),
            (pipeline, "decode_blocks", lambda *a, **k: "rollup.decode_blocks"),
            (CheckpointLog, "log_blocks", lambda *a, **k: "checkpoint.log_blocks"),
            (CheckpointLog, "log_rows", lambda *a, **k: "checkpoint.log_rows"),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        try:
            for (obj, attr, name_of), (_, _, fn) in zip(targets, saved):
                setattr(obj, attr, self.wrap(fn, name_of))
            yield
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    # -- queries over the recorded spans ---------------------------------

    def dur(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def total(self, name: str, under: str | None = None) -> float:
        return sum(self.dur(s) for s in self.named(name, under))

    def children(self, sid: int) -> list[int]:
        return [s["id"] for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list[int]:
        out = [sid]
        for c in self.children(sid):
            out += self.subtree(c)
        return out

    def named(self, name: str, under: str | None = None) -> list[int]:
        """The spans called ``name`` (only those nested in a span called
        ``under``, if given)."""
        if under is None:
            return [s["id"] for s in self.spans if s["name"] == name]
        return [s for root in self.named(under) for s in self.subtree(root)
                if self.spans[s]["name"] == name]


# Spark task metrics (stage accumulables) kept per job group
_ACCUMS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "data sent to Python workers": ("python_bytes_in", 1),
    "data returned from Python workers": ("python_bytes_out", 1),
}
STAGE_METRICS = ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "python_bytes_in",
                 "python_bytes_out", "tasks", "failed_tasks", "stages",
                 "shuffle_stages")


def event_log_metrics(path: str) -> dict:
    """Per job group, summed stage metrics from an uncompressed,
    non-rolling Spark event log: ``{group: {metric: value}}``."""
    stage_group: dict[int, str] = {}
    per_stage: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                m = per_stage[info["Stage ID"]]
                m["stages"] += 1
                for acc in info.get("Accumulables", []):
                    key = _ACCUMS.get(acc.get("Name"))
                    if key is not None:
                        m[key[0]] += float(acc.get("Value") or 0) * key[1]
            elif kind == "SparkListenerTaskEnd":
                m = per_stage[e["Stage ID"]]
                m["tasks"] += 1
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    m["failed_tasks"] += 1
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STAGE_METRICS, 0.0))
    for sid, m in per_stage.items():
        g = groups[stage_group.get(sid)]
        for k, v in m.items():
            g[k] += v
        g["shuffle_stages"] += 1 if m.get("shuffle_write_bytes", 0) > 0 else 0
    return dict(groups)


def span_metrics(tracer: Tracer, groups: dict, sid: int) -> dict:
    """Stage metrics of a span including every span nested in it."""
    out = dict.fromkeys(STAGE_METRICS, 0.0)
    for s in tracer.subtree(sid):
        for k, v in groups.get(f"span{s}", {}).items():
            out[k] += v
    return out


def find_event_log(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, got {files}")
    return files[0]
