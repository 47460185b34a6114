"""Retention tiers: raw blocks + 1m/1h/1d rollups with age-based expiry.

Policy model (TimescaleDB-style): each tier keeps data newer than its
horizon relative to a reference "now" (default: max ts in the data, so
tests are deterministic). Expiry is a partition-pruned filter here; on
Iceberg it is a metadata-only `DELETE FROM tier WHERE bucket < cutoff`
or a partition drop — never a rewrite of surviving data.

``serve_union`` answers "give me the best-resolution data at every age"
— the continuous-aggregate read path: 1m for the recent window, 1h for
the mid window, 1d beyond.
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import DAY_MS


@dataclass(frozen=True)
class RetentionPolicy:
    # horizons in days; tier keeps buckets with age < horizon
    keep_1m_days: int = 7
    keep_1h_days: int = 30
    keep_1d_days: int = 3650
    keep_blocks_days: int = 30


def cutoff_ms(now_ms: int, days: int) -> int:
    return (now_ms // DAY_MS) * DAY_MS - days * DAY_MS


def apply_retention(tier: DataFrame, now_ms: int, keep_days: int,
                    ts_col: str = "bucket") -> DataFrame:
    """Prunes whole partitions when the tier is partitioned by day."""
    return tier.where(F.col(ts_col) >= F.lit(cutoff_ms(now_ms, keep_days)))


def read_range(blocks: DataFrame, t0_ms: int, t1_ms: int,
               conv_ids: DataFrame | None = None,
               predictor: str | None = None) -> DataFrame:
    """Decode only the blocks that can contain points in [t0, t1).

    The serve path for "give me raw points for this window": block
    metadata (first_ts/last_ts) prunes non-overlapping blocks BEFORE
    the decode kernel ever sees a payload.  Both predicates are plain
    column comparisons, so when the block store is parquet/Iceberg
    they reach the scan as pushed filters and prune row groups via
    min/max statistics — a time-range read of a 10-year store touches
    only the files of the requested window.  An optional conv_id set
    narrows further via broadcast semi-join (bucket-pruned on a
    conv_id-bucketed layout).  Decoded points are then trimmed to the
    exact range (blocks straddling a boundary contribute partial
    ranges).

    Build ``conv_ids`` from pandas or a ``pyarrow.Table`` (it then plans
    a ``LocalRelation``).  A frame built from a Python list plans an
    RDD scan: each read then first runs a Python job of
    ``defaultParallelism`` tasks for the ids (~0.3 CPU-s on 4 cores in a
    ``session.get_spark`` session, ~1.2 with the stock PySpark daemon).
    """
    from .encode import decode_blocks

    pruned = blocks.where((F.col("last_ts") >= F.lit(t0_ms))
                          & (F.col("first_ts") < F.lit(t1_ms)))
    if conv_ids is not None:
        pruned = pruned.join(F.broadcast(conv_ids.select("conv_id")),
                             "conv_id", "left_semi")
    pts = decode_blocks(pruned, predictor)
    return pts.where((F.col("ts_ms") >= F.lit(t0_ms))
                     & (F.col("ts_ms") < F.lit(t1_ms)))


def read_value_range(blocks: DataFrame, v_lo: float | None = None,
                     v_hi: float | None = None, *,
                     channel: str | None = None,
                     t0_ms: int | None = None, t1_ms: int | None = None,
                     predictor: str | None = None) -> DataFrame:
    """Zone-map value scan: decode only blocks that can satisfy
    ``v ∈ [v_lo, v_hi]``.

    The serve path for "where did this channel exceed X?" over a sealed
    store: each block's stored ``agg_min``/``agg_max`` is a zone map, so
    a block is a candidate iff ``agg_max >= v_lo AND agg_min <= v_hi``
    — the same exclusion rule Parquet applies to row groups and
    TimescaleDB to chunks.  All prune predicates are plain column
    comparisons on block metadata, so on a parquet/Iceberg store they
    reach the scan as pushed filters; the decode kernel only ever sees
    the candidate blocks.  On a spiky channel (exceedances clustered in
    a few conversations/days) this turns a full-store decode into a
    scan of the few blocks whose envelope crosses the threshold.
    Decoded points are then filtered to the exact predicate (a block
    whose envelope crosses X still holds sub-threshold points).

    Composes with the time prune of ``read_range`` (``t0_ms``/``t1_ms``)
    and an optional channel narrowing.  ``None`` bounds are open; null
    zone-map stats (foreign stores) disable pruning for that block
    rather than dropping it.
    """
    from .encode import decode_blocks

    pruned = blocks
    if channel is not None:
        pruned = pruned.where(F.col("channel") == F.lit(channel))
    if t0_ms is not None:
        pruned = pruned.where(F.col("last_ts") >= F.lit(t0_ms))
    if t1_ms is not None:
        pruned = pruned.where(F.col("first_ts") < F.lit(t1_ms))
    if v_lo is not None:
        pruned = pruned.where(F.col("agg_max").isNull()
                              | (F.col("agg_max") >= F.lit(float(v_lo))))
    if v_hi is not None:
        pruned = pruned.where(F.col("agg_min").isNull()
                              | (F.col("agg_min") <= F.lit(float(v_hi))))
    pts = decode_blocks(pruned, predictor)
    if t0_ms is not None:
        pts = pts.where(F.col("ts_ms") >= F.lit(t0_ms))
    if t1_ms is not None:
        pts = pts.where(F.col("ts_ms") < F.lit(t1_ms))
    if v_lo is not None:
        pts = pts.where(F.col("v_double") >= F.lit(float(v_lo)))
    if v_hi is not None:
        pts = pts.where(F.col("v_double") <= F.lit(float(v_hi)))
    return pts


def serve_union(t1m: DataFrame, t1h: DataFrame, t1d: DataFrame,
                now_ms: int, policy: RetentionPolicy = RetentionPolicy()) -> DataFrame:
    """Best-available-resolution view across the retention cascade.

    Every horizon of the policy applies — including keep_1d_days, so
    the view never serves buckets the policy has expired even when the
    separate expiry job hasn't swept the 1d table yet.
    """
    c1m = cutoff_ms(now_ms, policy.keep_1m_days)
    c1h = cutoff_ms(now_ms, policy.keep_1h_days)
    c1d = cutoff_ms(now_ms, policy.keep_1d_days)
    parts = [
        t1m.where(F.col("bucket") >= c1m).withColumn("tier", F.lit("1m")),
        t1h.where((F.col("bucket") >= c1h) & (F.col("bucket") < c1m)).withColumn("tier", F.lit("1h")),
        t1d.where((F.col("bucket") >= c1d) & (F.col("bucket") < c1h)).withColumn("tier", F.lit("1d")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
