"""Table IO abstraction: Iceberg identifiers on a real cluster, parquet
paths in the sandbox. Engine logic never branches on the backend
(SURVEY.md §7 risk: "Iceberg availability in sandbox").
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _is_iceberg_identifier(ref: str) -> bool:
    return "/" not in ref and "." in ref


def load_table(spark: SparkSession, sf_dir_or_catalog: str, name: str) -> DataFrame:
    """Load a source table from a parquet dir (sandbox) or an Iceberg
    catalog namespace (production: pass e.g. ``lake.raw``)."""
    if _is_iceberg_identifier(sf_dir_or_catalog):
        return spark.read.format("iceberg").load(f"{sf_dir_or_catalog}.{name}")
    return spark.read.parquet(os.path.join(sf_dir_or_catalog, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    for name in tables or TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)


def write_tier(df: DataFrame, warehouse: str, tier: str,
               partition_by: list[str] | None = None, mode: str = "overwrite") -> str:
    """Write a retention-tier table. Parquet in the sandbox; on a cluster
    this is the same call with an Iceberg identifier (``db.tier``) via
    ``writeTo(...).using('iceberg')``."""
    if _is_iceberg_identifier(warehouse):
        writer = df.writeTo(f"{warehouse}.{tier}").using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return f"{warehouse}.{tier}"
    path = os.path.join(warehouse, tier)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


def read_tier(spark: SparkSession, warehouse: str, tier: str,
              schema: StructType | None = None) -> DataFrame:
    """Read a tier table.  ``schema`` declares the parquet schema of a
    table the engine wrote itself: Spark then plans the read without
    the footer-inference job it runs for every undeclared read.  An
    Iceberg table carries its schema, so there it is ignored."""
    if _is_iceberg_identifier(warehouse):
        return spark.read.format("iceberg").load(f"{warehouse}.{tier}")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(warehouse, tier))
