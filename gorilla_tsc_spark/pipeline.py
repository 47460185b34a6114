"""End-to-end pipeline: transcripts → gorilla blocks → rollup tiers →
gap-fill → retention, with per-stage checkpoint lineage and resume.

This is the spark-submit entry path (SURVEY.md §3.4):
read → sub-blocked shuffle → applyInPandas encode → write blocks +
checkpoints → tier cascade → gap-fill → write tiers + checkpoints →
retention expiry. A killed job rerun with the same warehouse resumes:
completed encode groups are anti-joined away BEFORE the kernel runs.

Crash window: ``encode_stage`` commits a run's blocks in three steps —
write them to ``<warehouse>/_staging/<run_id>/``, log their lineage
from the staged rows, move the staged part files into
``gorilla_blocks/``.  A run that dies anywhere in between leaves its
staging directory behind, and the next ``encode_stage`` on the
warehouse finishes it (logs what is not logged yet, moves what is not
moved yet) before it plans its own pending work.  A block identity is
therefore stored once, so ``read_blocks`` and every job that reads the
store is a plain scan.  The contract is one writer per warehouse at a
time.
"""
from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.channels import Channel, default_channels
from .operators.checkpoint import CheckpointLog, group_key_col, points_group_key_col
from .operators.encode import (
    BLOCKS_SCHEMA,
    block_value_column,
    decode_blocks,
    encode_points,
    points_for_encode,
)
from .operators.gapfill import gapfill
from .operators.retention import RetentionPolicy, apply_retention
from .operators.rollup import TIER_MS, cascade, rollup_points, with_mean
from .sources.tables import read_tier, write_tier


def read_blocks(spark: SparkSession, warehouse: str) -> DataFrame:
    """Blocks tier: a plain scan (``encode_stage`` stores each block
    identity once) with the declared ``BLOCKS_SCHEMA``, so building it
    starts no Spark job."""
    return read_tier(spark, warehouse, "gorilla_blocks", BLOCKS_SCHEMA)


def _commit_staged(spark: SparkSession, log: CheckpointLog, staged_dir: str,
                   store: str) -> None:
    """Log lineage for the staged blocks whose group is not logged yet,
    move the staged part files into the store, drop the staging
    directory.  Rerunning it after a crash at any step completes the
    commit.  Only top-level part files count: a Spark write that died
    leaves its tasks' output under ``_temporary``, and those groups are
    simply still pending."""
    files = sorted(f for f in os.listdir(staged_dir) if f.endswith(".parquet"))
    if files:
        staged = spark.read.schema(BLOCKS_SCHEMA).parquet(
            *(os.path.join(staged_dir, f) for f in files))
        fresh = log.pending(staged.withColumn("part_key", group_key_col()), "encode")
        log.log_blocks(fresh.drop("part_key"), "encode")
        os.makedirs(store, exist_ok=True)
        for f in files:
            os.replace(os.path.join(staged_dir, f), os.path.join(store, f))
    shutil.rmtree(staged_dir)


@dataclass
class PipelineResult:
    blocks_path: str
    tier_paths: dict
    n_blocks: int
    n_points: int
    payload_bytes: int
    wall_sec: float


def encode_stage(
    spark: SparkSession,
    transcripts: DataFrame,
    warehouse: str,
    channels: list[Channel],
    predictor: str | None,
    points_per_block: int,
    resume: bool,
) -> DataFrame:
    """Encode the groups not stored yet and commit them to the block
    store through ``_staging/<run_id>`` (see the module docstring);
    returns the whole store.  ``resume=False`` runs the kernel over
    every group but still appends only identities not stored yet."""
    log = CheckpointLog(spark, warehouse)
    store = os.path.join(warehouse, "gorilla_blocks")
    staging = os.path.join(warehouse, "_staging")
    # finish crashed runs first: the pending anti-join below fixes its
    # checkpoint file listing when it is planned
    if os.path.isdir(staging):
        for run in sorted(os.listdir(staging)):
            _commit_staged(spark, log, os.path.join(staging, run), store)

    def pending(df, key):
        return log.pending(df.withColumn("part_key", key), "encode").drop("part_key")

    pts = points_for_encode(transcripts, channels, points_per_block)
    if resume:
        pts = pending(pts, points_group_key_col())
    blocks = encode_points(pts, channels, predictor)
    if not resume:
        blocks = pending(blocks, group_key_col())
    staged_dir = os.path.join(staging, log.run_id)
    blocks.write.parquet(staged_dir)
    _commit_staged(spark, log, staged_dir, store)
    os.rmdir(staging)  # empty under the single-writer contract
    return read_blocks(spark, warehouse)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    warehouse: str,
    channels: list[Channel] | None = None,
    predictor: str | None = None,
    points_per_block: int = 65_536,
    gapfill_how: str = "locf",
    policy: RetentionPolicy = RetentionPolicy(),
    resume: bool = True,
) -> PipelineResult:
    t0 = time.time()
    channels = channels or default_channels()
    log = CheckpointLog(spark, warehouse)

    written = encode_stage(spark, transcripts, warehouse, channels,
                           predictor, points_per_block, resume)

    # stage A: rollup tiers from decoded blocks (self-verifying path);
    # fingerprint channels are decodable but not tier-aggregated
    from .functions.channels import agg_channel_names
    points = decode_blocks(written, predictor).where(
        F.col("channel").isin(agg_channel_names(channels)))

    def write_read(df, tier):
        # re-read with the schema just written: no inference job
        write_tier(df, warehouse, tier, mode="overwrite")
        return read_tier(spark, warehouse, tier, df.schema)

    t1m = write_read(rollup_points(points, TIER_MS["1m"], block_value_column()),
                     "rollup_1m")
    t1h = write_read(cascade(t1m, TIER_MS["1m"], TIER_MS["1h"]), "rollup_1h")
    t1d = write_read(cascade(t1h, TIER_MS["1h"], TIER_MS["1d"]), "rollup_1d")
    log.log_rows([{"stage": "rollup", "part_key": t} for t in ("1m", "1h", "1d")])

    # stage G: gap-fill the serving tier
    filled = gapfill(with_mean(t1m), TIER_MS["1m"], how=gapfill_how)
    write_tier(filled, warehouse, "rollup_1m_filled", mode="overwrite")
    log.log_rows([{"stage": "gapfill", "part_key": "1m"}])

    # stage R: retention expiry (deterministic 'now' = max data ts);
    # an empty store has no 'now' and nothing to expire.  The result
    # counters come from the same pass over the store.
    now_ms, n_blocks, n_points, payload_bytes = written.agg(
        F.max("last_ts"), F.count(F.lit(1)), F.sum("n_points"),
        F.sum(F.length("payload"))).first()
    if now_ms is None:
        now_ms = 0
    for tier_name, tier, keep in (("rollup_1m", t1m, policy.keep_1m_days),
                                  ("rollup_1h", t1h, policy.keep_1h_days),
                                  ("rollup_1d", t1d, policy.keep_1d_days)):
        pruned = apply_retention(tier, now_ms, keep)
        write_tier(pruned, warehouse, f"{tier_name}_retained", mode="overwrite")
    log.log_rows([{"stage": "retention", "part_key": "all"}])

    return PipelineResult(
        blocks_path=f"{warehouse}/gorilla_blocks",
        tier_paths={t: f"{warehouse}/{t}" for t in
                    ("rollup_1m", "rollup_1h", "rollup_1d", "rollup_1m_filled")},
        n_blocks=n_blocks, n_points=n_points or 0, payload_bytes=payload_bytes or 0,
        wall_sec=time.time() - t0,
    )


def register_views(spark: SparkSession, warehouse: str,
                   prefix: str = "gorilla_",
                   predictor: str | None = None) -> list[str]:
    """Expose the warehouse to plain ``spark.sql`` users.

    Registers temp views over every tier table present plus a lazily
    DECODED point view (``<prefix>points``) built on the block store —
    ad hoc SQL like

        SELECT conv_id, avg(v_double) FROM gorilla_points
        WHERE channel = 'len' GROUP BY conv_id

    Caveat (verified against the physical plan): predicates on the
    points view sit ABOVE the decode kernel — Catalyst cannot push a
    filter through mapInPandas — so the view decodes every block it
    scans.  Fine for tier-wide SQL; for narrow time windows use
    ``operators.retention.read_range`` (or ``jobs/export_job.py``),
    which prunes on block metadata BEFORE decoding, or filter the
    ``<prefix>blocks`` view on first_ts/last_ts/channel and decode the
    result.  Returns the view names registered.  On Iceberg the tables
    are already SQL-addressable; this is the parquet-sandbox
    equivalent.
    """
    from .operators.encode import decode_blocks

    names = []
    blocks = read_blocks(spark, warehouse)
    blocks.createOrReplaceTempView(f"{prefix}blocks")
    names.append(f"{prefix}blocks")
    # predictor must match the store's encode-time predictor — the
    # points view would otherwise serve silently mis-decoded values
    decode_blocks(blocks, predictor).createOrReplaceTempView(
        f"{prefix}points")
    names.append(f"{prefix}points")
    for tier in ("rollup_1m", "rollup_1h", "rollup_1d", "rollup_1m_filled",
                 "checkpoints"):
        try:
            read_tier(spark, warehouse, tier).createOrReplaceTempView(
                f"{prefix}{tier}")
            names.append(f"{prefix}{tier}")
        except Exception:
            continue  # tier not materialized in this warehouse
    return names


def register_tier_views(spark: SparkSession, tiers_dir: str,
                        prefix: str = "tier_") -> list[str]:
    """Expose a ``jobs/tiers_job.py`` output directory to plain
    ``spark.sql`` users: every family tier table present (corr_fine,
    twa_coarse, hb/rate/hist/state/candle …) becomes a
    ``<prefix><table>`` temp view.  Discovery is by directory listing,
    so new families need no registration code; on Iceberg the tables
    are already SQL-addressable and this is the parquet-sandbox
    equivalent.  Returns the view names registered."""
    import os

    names = []
    try:
        entries = sorted(os.listdir(tiers_dir))
    except OSError:
        return names
    for entry in entries:
        path = os.path.join(tiers_dir, entry)
        if not os.path.isdir(path):
            continue
        try:
            spark.read.parquet(path).createOrReplaceTempView(
                f"{prefix}{entry}")
        except Exception:
            continue  # not a parquet table
        names.append(f"{prefix}{entry}")
    return names
