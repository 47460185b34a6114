"""spark-submit entry point for serve-side raw-point export.

Decodes ONLY the blocks overlapping [--t0-ms, --t1-ms) (metadata prune
via first_ts/last_ts — min/max-pushable on parquet/Iceberg), optionally
narrowed to a conv_id list, and writes the exact trimmed points as
parquet — the "give me this window's raw data" operational task, e.g.
feeding an incident investigation or a downstream training-data pull.
Prints one JSON line with the block-prune and point counters so the
pruning effectiveness is visible per run.

Usage (cluster):
    spark-submit --py-files engine.zip jobs/export_job.py \\
        --warehouse s3://lake/gorilla --t0-ms A --t1-ms B \\
        --out s3://bucket/export [--conv-ids id1,id2] [--channel len] \\
        [--format parquet|jsonl|csv]

Usage (sandbox):
    python jobs/export_job.py --warehouse /tmp/wh --t0-ms A --t1-ms B \\
        --out /tmp/export
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--t0-ms", type=int, required=True)
    ap.add_argument("--t1-ms", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--conv-ids", default=None,
                    help="comma-separated conv_id allowlist")
    ap.add_argument("--channel", default=None)
    ap.add_argument("--predictor", default=None,
                    help="store's encode-time predictor (e.g. dfcm1024); "
                         "must match or the decode is silently wrong")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "jsonl", "csv"],
                    help="export format; jsonl/csv for downstream "
                         "consumers that don't speak parquet")
    args = ap.parse_args()

    import pyarrow as pa
    from pyspark.sql import functions as F

    from gorilla_tsc_spark.operators.retention import read_range
    from gorilla_tsc_spark.pipeline import read_blocks
    from gorilla_tsc_spark.session import get_spark

    spark = get_spark("export-job", cores=args.cores)
    blocks = read_blocks(spark, args.warehouse)
    if args.channel:
        blocks = blocks.where(F.col("channel") == args.channel)
    conv_ids = None
    if args.conv_ids:
        ids = [c.strip() for c in args.conv_ids.split(",") if c.strip()]
        conv_ids = spark.createDataFrame(
            pa.table({"conv_id": pa.array(ids, pa.string())}))

    n_blocks = blocks.count()
    overlapping = blocks.where((F.col("last_ts") >= args.t0_ms)
                               & (F.col("first_ts") < args.t1_ms)).count()
    pts = read_range(blocks, args.t0_ms, args.t1_ms, conv_ids=conv_ids,
                     predictor=args.predictor)
    # re-read with the written schema: an empty window leaves only
    # _SUCCESS, which schema inference cannot read
    if args.format == "jsonl":
        pts.write.mode("overwrite").json(args.out)
        n_pts = spark.read.schema(pts.schema).json(args.out).count()
    elif args.format == "csv":
        pts.write.mode("overwrite").option("header", "true").csv(args.out)
        n_pts = (spark.read.schema(pts.schema).option("header", "true")
                 .csv(args.out).count())
    else:
        pts.write.mode("overwrite").parquet(args.out)
        n_pts = spark.read.parquet(args.out).count()

    print(json.dumps({"blocks_total": n_blocks,
                      "blocks_overlapping": overlapping,
                      "points_exported": n_pts,
                      "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
