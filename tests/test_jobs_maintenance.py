"""The maintenance job entry points (jobs/*.py) in-process against one
run_pipeline warehouse: audit (clean store, exit 0), compaction (point
count preserved, block count shrinks), conversation purge (victim gone,
survivors byte-identical), retention sweep (old tier rows dropped,
tables still readable), export of an empty window (zero points).  The
operators themselves are driver/pytest gated elsewhere — this pins the
JOB wiring: arg parsing, warehouse IO, staging rewrites, counters."""
from __future__ import annotations

import json
import sys

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _stats(capsys):
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_maintenance_jobs_end_to_end(spark, tmp_path_factory, capsys,
                                     monkeypatch):
    from gorilla_tsc_spark.pipeline import run_pipeline
    from gorilla_tsc_spark.queries import _transcripts

    wh = str(tmp_path_factory.mktemp("wh"))
    t = _transcripts(spark, "/root/testdata/sf0.001")
    run_pipeline(spark, t, wh, points_per_block=256)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    # 1. audit: a fresh store must come back fully clean (exit code 0)
    import jobs.audit_job as audit_job
    monkeypatch.setattr(sys, "argv", [
        "audit_job.py", "--warehouse", wh, "--cores", "8"])
    with pytest.raises(SystemExit) as e:
        audit_job.main()
    assert e.value.code == 0
    a = _stats(capsys)
    assert a["ok"] is True
    assert all(v == 0 for k, v in a.items() if k.startswith("bad_"))

    # 2. compaction: small 256-point blocks merge; points preserved
    import jobs.compact_job as compact_job
    monkeypatch.setattr(sys, "argv", [
        "compact_job.py", "--warehouse", wh, "--cores", "8"])
    compact_job.main()
    c = _stats(capsys)
    assert c["blocks_out"] < c["blocks_in"]
    assert c["bytes_per_point_out"] <= c["bytes_per_point_in"]

    # 3. whole-conversation purge: victim vanishes, survivors intact
    import jobs.purge_job as purge_job
    blocks = spark.read.parquet(f"{wh}/gorilla_blocks")
    victim = blocks.select("conv_id").first()["conv_id"]
    ids_file = tmp_path_factory.mktemp("ids") / "ids.txt"
    ids_file.write_text(victim + "\n")
    monkeypatch.setattr(sys, "argv", [
        "purge_job.py", "--warehouse", wh, "--conv-ids", str(ids_file),
        "--cores", "8"])
    purge_job.main()
    _stats(capsys)  # drain the job's counter line
    purged = spark.read.parquet(f"{wh}/gorilla_blocks_purged")
    assert purged.where(F.col("conv_id") == victim).count() == 0
    assert 0 < purged.count() < blocks.count()
    # survivors pass through byte-identical (no re-encode in conv mode)
    assert purged.exceptAll(
        blocks.where(F.col("conv_id") != victim)).count() == 0

    # 4. retention sweep: tight keep windows drop old rows in place
    import jobs.retention_job as retention_job
    max_ts = blocks.agg(F.max("last_ts")).first()[0]
    before_1m = spark.read.parquet(f"{wh}/rollup_1m").count()
    now = max_ts + 200 * 86_400_000
    monkeypatch.setattr(sys, "argv", [
        "retention_job.py", "--warehouse", wh, "--now-ms", str(now),
        "--keep-1m-days", "1", "--keep-1h-days", "2", "--cores", "8"])
    retention_job.main()
    r = _stats(capsys)
    assert r["rollup_1m"]["dropped"] == before_1m
    assert r["rollup_1m"]["kept"] == 0
    # the swept table is still a readable (empty) tier
    assert spark.read.parquet(f"{wh}/rollup_1m").count() == 0

    # 5. export of an empty window as jsonl: no part files, zero points
    import jobs.export_job as export_job
    monkeypatch.setattr(sys, "argv", [
        "export_job.py", "--warehouse", wh, "--t0-ms", "0", "--t1-ms", "1",
        "--out", str(tmp_path_factory.mktemp("export") / "empty"),
        "--format", "jsonl", "--cores", "8"])
    export_job.main()
    x = _stats(capsys)
    assert x["blocks_overlapping"] == 0 and x["points_exported"] == 0


def test_backfill_job_end_to_end(spark, tmp_path_factory, capsys,
                                 monkeypatch):
    # the backfill entry point: on-time pipeline + late parquet →
    # merged store carries every point, channel decode identity holds
    import jobs.backfill_job as backfill_job
    from gorilla_tsc_spark.operators.encode import (block_value_column,
                                                    decode_blocks)
    from gorilla_tsc_spark.pipeline import run_pipeline
    from gorilla_tsc_spark.queries import _transcripts

    wh = str(tmp_path_factory.mktemp("wh_bf"))
    late_dir = str(tmp_path_factory.mktemp("late") / "late.parquet")
    t = _transcripts(spark, "/root/testdata/sf0.001").cache()
    late_pred = F.xxhash64("conv_id", F.unix_millis("ts")) % 5 == 0
    t.where(~late_pred).write.mode("overwrite").parquet(f"{wh}_src")
    run_pipeline(spark, spark.read.parquet(f"{wh}_src"), wh,
                 points_per_block=256)
    t.where(late_pred).write.parquet(late_dir)

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", [
        "backfill_job.py", "--warehouse", wh, "--late", late_dir,
        "--cores", "8"])
    backfill_job.main()
    s = _stats(capsys)
    assert s["late_rows"] > 0
    # every late turn lands: the merged store's decoded len channel
    # equals the full corpus's
    merged = spark.read.parquet(f"{wh}/gorilla_blocks_backfilled")
    got = (decode_blocks(merged.where(F.col("channel") == "len"))
           .select("conv_id", "ts_ms", block_value_column().alias("v")))
    want = t.select("conv_id", F.unix_millis("ts").alias("ts_ms"),
                    F.length("text").cast("double").alias("v"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    t.unpersist()
