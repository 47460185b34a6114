"""Per-partition lineage + metrics checkpointing with resume.

Every pipeline stage appends one row per completed unit of work (a
block, a tier partition) to an append-only checkpoint table. Resuming a
killed job anti-joins the work list against completed keys BEFORE the
encode kernel runs, so completed blocks are never re-encoded (north
rule). The completed-keys side is tiny (one row per block) and is
broadcast, so pruning never shuffles the big side; with no log yet
there is nothing to prune and the work list passes through unjoined.

Every frame the log builds on the driver (an empty log, the rows of
``log_rows``) comes from a ``pyarrow.Table``, so it plans a
``LocalRelation``: a frame built from a Python list plans an RDD scan
whose every action runs one Python task per core, rows or not.

Crash window note: ``pipeline.encode_stage`` writes a run's blocks to
``_staging/<run_id>``, appends their lineage from the staged rows,
then moves the staged files into the store.  The next run finishes a
commit that crashed: staged rows whose group is already logged are
filtered by ``pending``, so no block gets a second lineage row, and a
write that died before any part file landed leaves its groups pending
for re-encode.  Each block identity is stored once and readers never
dedupe (on Iceberg the write+log pair becomes one transaction).
"""
from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("stage", T.StringType()),
    T.StructField("part_key", T.StringType()),   # encode: conv|day|seq group
    T.StructField("detail", T.StringType()),     # encode: channel name
    T.StructField("n_points", T.LongType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("crc", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("run_id", T.StringType()),
])

BLOCK_ID_COLS = ["conv_id", "channel", "block_start", "seq"]


def group_key_col():
    """Encode-unit identity: one applyInPandas group (all its channels)."""
    return F.concat_ws("|", "conv_id", F.col("block_start").cast("string"), "seq")


def points_group_key_col(day_ms: int = 86_400_000):
    """Same identity computed on pre-encode point rows (day column)."""
    return F.concat_ws(
        "|", "conv_id", (F.col("day") * day_ms).cast("string"), "seq")


class CheckpointLog:
    def __init__(self, spark: SparkSession, warehouse: str, name: str = "checkpoints") -> None:
        self.spark = spark
        self.path = os.path.join(warehouse, name)
        self.run_id = uuid.uuid4().hex[:12]

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path))

    def _frame(self, rows: list[dict]) -> DataFrame:
        cols = {f.name: [r.get(f.name) for r in rows]
                for f in CHECKPOINT_SCHEMA.fields}
        return self.spark.createDataFrame(pa.table(cols), CHECKPOINT_SCHEMA)

    def read(self) -> DataFrame:
        if not self._exists():
            return self._frame([])
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def completed_keys(self, stage: str) -> DataFrame:
        return (
            self.read()
            .where((F.col("stage") == stage) & (F.col("status") == "ok"))
            .select("part_key")
            .distinct()
        )

    def pending(self, work: DataFrame, stage: str, key_col: str = "part_key") -> DataFrame:
        if not self._exists():
            return work
        done = self.completed_keys(stage).withColumnRenamed("part_key", key_col)
        return work.join(F.broadcast(done), on=key_col, how="left_anti")

    def log_blocks(self, blocks: DataFrame, stage: str = "encode") -> None:
        """Append lineage rows for freshly written block rows."""
        t0 = int(time.time() * 1000)
        rows = blocks.select(
            F.lit(stage).alias("stage"),
            group_key_col().alias("part_key"),
            F.col("channel").alias("detail"),
            F.col("n_points").cast("long").alias("n_points"),
            F.length("payload").cast("long").alias("bytes"),
            F.col("crc").alias("crc"),
            F.lit(t0).alias("wall_ms"),
            F.lit("ok").alias("status"),
            F.lit(self.run_id).alias("run_id"),
        )
        rows.write.mode("append").parquet(self.path)

    def log_rows(self, rows: list[dict]) -> None:
        now = int(time.time() * 1000)
        defaults = {"n_points": 0, "bytes": 0, "crc": 0, "wall_ms": now,
                    "status": "ok"}
        self._frame([{**defaults, **r, "run_id": self.run_id} for r in rows]
                    ).write.mode("append").parquet(self.path)
