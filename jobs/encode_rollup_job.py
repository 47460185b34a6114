"""spark-submit entry point for the full pipeline.

Usage (cluster):
    spark-submit --py-files engine.zip jobs/encode_rollup_job.py \\
        --input db.transcripts --warehouse s3://lake/gorilla \\
        [--resume] [--predictor last_value]

Usage (sandbox):
    python jobs/encode_rollup_job.py --input /root/testdata/sf0.01 \\
        --warehouse /tmp/wh

``--input`` accepts an Iceberg identifier (``db.transcripts``), a
transcripts parquet path, a testdata sf directory (events parquet →
transcripts derivation), or raw JSONL logs (a ``.jsonl`` file/glob or
a directory of them) — routed through sources/ingest.py: explicit
schema, corrupt-line quarantine (written to
``<warehouse>/ingest_quarantine``, counted in the stats line) and
deterministic duplicate-turn resolution.  Emits one JSON line with
pipeline stats.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--predictor", default=None)
    ap.add_argument("--points-per-block", type=int, default=65_536)
    ap.add_argument("--gapfill", default="locf", choices=["locf", "null", "zero"])
    ap.add_argument("--resume", action="store_true", default=True)
    ap.add_argument("--no-resume", dest="resume", action="store_false")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--ts-format", default=None,
                    help="timestamp format for raw JSONL input "
                         "(default: ISO-8601 via to_timestamp)")
    args = ap.parse_args()

    import glob

    from gorilla_tsc_spark.pipeline import run_pipeline
    from gorilla_tsc_spark.session import get_spark
    from gorilla_tsc_spark.sources.tables import load_table
    from gorilla_tsc_spark.sources.transcripts import transcripts_from_events

    spark = get_spark("encode-rollup-job", cores=args.cores)
    inp = args.input
    quarantined = None
    if (inp.endswith(".jsonl")
            or (os.path.isdir(inp) and glob.glob(os.path.join(inp,
                                                              "*.jsonl")))):
        from gorilla_tsc_spark.sources.ingest import (dedupe_turns,
                                                      read_transcripts_jsonl,
                                                      split_corrupt)
        clean, bad = split_corrupt(
            read_transcripts_jsonl(spark, inp, args.ts_format))
        qpath = os.path.join(args.warehouse, "ingest_quarantine")
        bad.write.mode("overwrite").parquet(qpath)
        quarantined = spark.read.parquet(qpath).count()
        transcripts = dedupe_turns(clean)
    elif os.path.isdir(inp) and os.path.exists(os.path.join(inp, "events.parquet")):
        transcripts = transcripts_from_events(
            spark, load_table(spark, inp, "events"))
    elif "/" in inp:
        transcripts = spark.read.parquet(inp)
    else:
        transcripts = spark.read.format("iceberg").load(inp)

    res = run_pipeline(
        spark, transcripts, args.warehouse,
        predictor=args.predictor,
        points_per_block=args.points_per_block,
        gapfill_how=args.gapfill,
        resume=args.resume,
    )
    stats = {
        "blocks": res.n_blocks, "points": res.n_points,
        "payload_bytes": res.payload_bytes,
        "bytes_per_point": round(res.payload_bytes / max(res.n_points, 1), 3),
        "wall_sec": round(res.wall_sec, 2),
        "tiers": sorted(res.tier_paths),
    }
    if quarantined is not None:
        stats["quarantined"] = quarantined
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
