"""Seeded, vectorized transcripts corpora for the benchmark.

Every array is drawn from one ``numpy.random.Generator`` seeded by the
``--seed`` argument, so the same seed gives the same parquet bytes.  The
engine only ever sees the parquet written here.

Two shapes:

* ``sparse`` - many short conversations (1 + Poisson(2) turns, seconds
  apart, all inside one UTC day), so almost every (conv, day) block
  holds about three points: per-block fixed costs dominate.
* ``dense`` - a handful of Zipf-hot conversations with thousands of
  turns per UTC day, so blocks hold thousands of points: the codec and
  the block packing dominate.

A corpus keeps its arrays next to the parquet, so the checks in
``check.py`` can derive every expected channel value without Spark.
"""
from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
# 2023-11-14T00:00:00Z: day-aligned, so day buckets are easy to reason about
BASE_DAY = 19_675
_WORDS = (
    "rollup window shuffle block delta gorilla spark codec tier stream "
    "partition salt skew checkpoint lineage decode encode bucket gapfill "
    "agg merge seal cascade audit compact serve retain expire"
).split()
_ROLES = np.array(["user", "assistant", "tool"])
_TOOLS = [None, "search", "python", "browser", "calculator"]
POOL = 2048  # distinct turn texts


@dataclass
class Corpus:
    """One generated batch of turns, sorted by (conv, turn_idx)."""

    conv: np.ndarray       # int64 conversation number
    turn_idx: np.ndarray   # int32
    ts_ms: np.ndarray      # int64 epoch ms
    text_idx: np.ndarray   # int64 index into the text pool
    role_idx: np.ndarray   # int64 index into _ROLES
    tool_idx: np.ndarray   # int64 index into _TOOLS
    texts: list            # the text pool

    @property
    def n(self) -> int:
        return len(self.ts_ms)

    def conv_ids(self) -> np.ndarray:
        return np.char.add("c", np.char.zfill(self.conv.astype(str), 7))

    def table(self) -> pa.Table:
        pool = pa.array(self.texts, pa.string())
        tools = pa.array(_TOOLS, pa.string())
        return pa.table({
            "conv_id": pa.array(self.conv_ids(), pa.string()),
            "turn_idx": pa.array(self.turn_idx, pa.int32()),
            "role": pa.array(_ROLES[self.role_idx], pa.string()),
            "text": pool.take(pa.array(self.text_idx)),
            "tool": tools.take(pa.array(self.tool_idx)),
            "ts": pa.array(self.ts_ms, pa.timestamp("ms", tz="UTC")),
        })

    def write(self, path: str, files: int = 4) -> None:
        """Parquet directory with ``files`` part files (several scan
        tasks, like a real input table)."""
        os.makedirs(path, exist_ok=True)
        t = self.table()
        step = -(-t.num_rows // files)
        for i in range(files):
            pq.write_table(t.slice(i * step, step),
                           os.path.join(path, f"part-{i:03d}.parquet"))


def _text_pool(rng: np.random.Generator) -> list:
    n_words = rng.integers(2, 12, POOL)
    picks = rng.integers(0, len(_WORDS), (POOL, 12))
    words = np.array(_WORDS)
    return [" ".join(words[picks[i, :n_words[i]]]) for i in range(POOL)]


def _turns(rng, conv_counts: np.ndarray, conv_start: np.ndarray,
           stride_lo, stride_hi, texts: list) -> Corpus:
    """Expand per-conversation turn counts and start times to turns;
    strides are uniform in [stride_lo, stride_hi) ms (scalars or one
    value per conversation)."""
    n = int(conv_counts.sum())
    conv = np.repeat(np.arange(len(conv_counts), dtype=np.int64), conv_counts)
    first = np.repeat(np.cumsum(conv_counts) - conv_counts, conv_counts)
    turn_idx = (np.arange(n, dtype=np.int64) - first).astype(np.int32)
    lo = np.broadcast_to(np.asarray(stride_lo, np.int64), conv_counts.shape)[conv]
    hi = np.broadcast_to(np.asarray(stride_hi, np.int64), conv_counts.shape)[conv]
    strides = lo + (rng.random(n) * (hi - lo)).astype(np.int64)
    strides[turn_idx == 0] = 0
    cum = np.cumsum(strides)
    ts = conv_start[conv] + cum - cum[first]
    return Corpus(conv, turn_idx, ts.astype(np.int64),
                  rng.integers(0, POOL, n), rng.integers(0, 3, n),
                  rng.integers(0, len(_TOOLS), n), texts)


def sparse(seed: int, n_convs: int, days: int) -> Corpus:
    """``n_convs`` conversations of 1 + Poisson(2) turns, 5-60 s apart,
    each starting at a uniform time in ``days`` days and ending before
    its day does (one block per conversation and channel)."""
    rng = np.random.default_rng([seed, 1])
    texts = _text_pool(rng)
    counts = 1 + rng.poisson(2.0, n_convs)
    day = rng.integers(0, days, n_convs)
    # leave room for the longest conversation inside its day
    span = int(counts.max()) * 60_000
    start = (BASE_DAY + day) * DAY_MS + rng.integers(0, DAY_MS - span, n_convs)
    return _turns(rng, counts, start, 5_000, 60_000, texts)


def dense(seed: int, n_convs: int, n_turns: int, days: int) -> Corpus:
    """``n_convs`` conversations with Zipf(1.1)-skewed turn counts
    summing to about ``n_turns``, each spread evenly over ``days`` days
    (thousands of points per (conv, day) block)."""
    rng = np.random.default_rng([seed, 2])
    texts = _text_pool(rng)
    # rank-based, so conversation 0 is the hottest under every seed: which
    # shuffle partition the hot conversations hash to stays the same
    w = 1.0 / np.arange(1, n_convs + 1) ** 1.1
    counts = np.maximum(64, (w / w.sum() * n_turns).astype(np.int64))
    # mean stride so each conversation covers `days` days
    stride = (days * DAY_MS) // counts
    start = BASE_DAY * DAY_MS + rng.integers(0, 3_600_000, n_convs)
    return _turns(rng, counts, start, stride // 2, stride * 3 // 2, texts)


def next_day(seed: int, base: Corpus, share: float, new_convs: bool) -> Corpus:
    """A new-day batch of about ``share`` * ``base.n`` turns on the day
    after ``base``'s last day.  With ``new_convs`` the batch holds new
    conversations of the sparse shape (the next day of a many-short-
    conversations corpus); otherwise each new turn continues a
    conversation drawn like a random turn of ``base``, so hot
    conversations keep growing.  Either way an incremental ingest of it
    appends fresh blocks only."""
    rng = np.random.default_rng([seed, 3])
    day0 = (int(base.ts_ms.max() // DAY_MS) + 1) * DAY_MS
    n_new = max(1, int(base.n * share))
    if new_convs:
        counts = 1 + rng.poisson(2.0, max(1, n_new // 3))
        chosen = int(base.conv.max()) + 1 + np.arange(len(counts))
    else:
        per_conv = np.bincount(base.conv[rng.integers(0, base.n, n_new)])
        chosen = np.flatnonzero(per_conv)
        counts = per_conv[chosen]
    # strides up to 60 s, shorter where a conversation must fit its day
    hi = np.minimum(60_000, (DAY_MS // 2) // counts)
    start = day0 + (rng.random(len(chosen)) * (DAY_MS - counts * hi)).astype(np.int64)
    c = _turns(rng, counts, start, np.maximum(1, hi // 10), hi + 1, base.texts)
    c.conv = chosen[c.conv]
    if not new_convs:
        # continue each conversation's turn numbering after its last turn
        last_turn = np.zeros(int(base.conv.max()) + 1, np.int64)
        np.maximum.at(last_turn, base.conv, base.turn_idx.astype(np.int64))
        c.turn_idx = (c.turn_idx + last_turn[c.conv] + 1).astype(np.int32)
    return c
