"""End-to-end Spark pipeline tests on synthetic transcripts (FIXTURES F1/F5):

- codec round trip THROUGH Spark: decode(encode(transcripts)) reproduces
  every (conv, channel, ts, value) point exactly, including the
  xxhash64(text) channel — pins per-turn text equality under stable
  turn ordering through the block pipeline.
- rollup tiers from decoded blocks == rollup computed directly on raw
  points (exact match, every tier).
- cascade exactness 1m→1h→1d.
- gap-fill inserts the right buckets; locf carries values.
- resume: a second run encodes zero new blocks; a partial first run
  encodes only the missing ones.
- crash windows of the staged block commit (staged not logged, logged
  and partly moved, Spark ``_temporary`` debris) and a ``resume=False``
  rerun: each identity is stored once with one lineage row.
"""
from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gorilla_tsc_spark.functions.channels import default_channels
from gorilla_tsc_spark.operators.checkpoint import CheckpointLog
from gorilla_tsc_spark.operators.encode import (
    block_value_column,
    decode_blocks,
    encode_blocks,
    points_for_encode,
)
from gorilla_tsc_spark.operators.gapfill import gapfill
from gorilla_tsc_spark.operators.rollup import (
    TIER_MS,
    cascade,
    rollup_from_block_meta,
    rollup_points,
)
from gorilla_tsc_spark.pipeline import read_blocks, run_pipeline
from gorilla_tsc_spark.sources.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(spark, n_convs=40, max_turns=600).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def blocks(spark, transcripts):
    # small cap forces multi-seq sub-blocks on hot conversations
    return encode_blocks(transcripts, points_per_block=256).cache()


def raw_points(transcripts):
    chans = default_channels()
    pts = points_for_encode(transcripts, chans, points_per_block=256)
    stack = ", ".join(f"'{c.name}', cast(ch_{c.name} as double)" for c in chans)
    melted = pts.selectExpr(
        "conv_id", "ts_ms",
        f"stack({len(chans)}, {stack}) as (channel, value)")
    return melted


def test_roundtrip_exact_points(spark, transcripts, blocks):
    decoded = decode_blocks(blocks)
    dec = decoded.select(
        "conv_id", "channel", "ts_ms",
        block_value_column().alias("value"),
        F.col("v_long"),
    )
    raw = raw_points(transcripts)
    # exact multiset equality per channel via anti-joins both ways
    d = dec.groupBy("conv_id", "channel", "ts_ms", "value").count()
    r = raw.groupBy("conv_id", "channel", "ts_ms", "value").count()
    assert d.exceptAll(r).count() == 0
    assert r.exceptAll(d).count() == 0


def test_text_hash_channel_pins_text_equality(spark, transcripts, blocks):
    # decoded xxhash64 values equal recomputed hashes joined on (conv, ts)
    dec = (
        decode_blocks(blocks)
        .where(F.col("channel") == "text_hash")
        .select("conv_id", "ts_ms", F.col("v_long").alias("h_dec"))
    )
    raw = transcripts.select(
        "conv_id", F.unix_millis("ts").alias("ts_ms"),
        F.xxhash64("text").alias("h_raw"))
    joined = raw.join(dec, on=["conv_id", "ts_ms"], how="full")
    bad = joined.where(
        F.col("h_dec").isNull() | F.col("h_raw").isNull()
        | (F.col("h_dec") != F.col("h_raw"))).count()
    assert bad == 0


def agg_only(df):
    from gorilla_tsc_spark.functions.channels import agg_channel_names
    return df.where(F.col("channel").isin(agg_channel_names()))


def test_rollup_tiers_match_raw(spark, transcripts, blocks):
    decoded_pts = agg_only(decode_blocks(blocks)).select(
        "conv_id", "channel", "ts_ms", block_value_column().alias("v"))
    raw = agg_only(raw_points(transcripts))
    for tier_ms in (TIER_MS["1m"], TIER_MS["1h"], TIER_MS["1d"]):
        a = rollup_points(decoded_pts, tier_ms, F.col("v"))
        b = rollup_points(raw, tier_ms, F.col("value"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier_ms


def test_cascade_exact(spark, transcripts, blocks):
    pts = agg_only(decode_blocks(blocks)).select(
        "conv_id", "channel", "ts_ms", block_value_column().alias("v"))
    t1m = rollup_points(pts, TIER_MS["1m"], F.col("v"))
    t1h_direct = rollup_points(pts, TIER_MS["1h"], F.col("v"))
    t1h_casc = cascade(t1m, TIER_MS["1m"], TIER_MS["1h"])
    assert t1h_casc.exceptAll(t1h_direct).count() == 0
    assert t1h_direct.exceptAll(t1h_casc).count() == 0
    t1d_direct = rollup_points(pts, TIER_MS["1d"], F.col("v"))
    t1d_casc = cascade(t1h_casc, TIER_MS["1h"], TIER_MS["1d"])
    assert t1d_casc.exceptAll(t1d_direct).count() == 0
    assert t1d_direct.exceptAll(t1d_casc).count() == 0


def test_block_meta_day_tier_matches_decode(spark, transcripts, blocks):
    pts = agg_only(decode_blocks(blocks)).select(
        "conv_id", "channel", "ts_ms", block_value_column().alias("v"))
    via_decode = rollup_points(pts, TIER_MS["1d"], F.col("v"))
    via_meta = rollup_from_block_meta(agg_only(blocks))
    assert via_meta.exceptAll(via_decode).count() == 0
    assert via_decode.exceptAll(via_meta).count() == 0


def test_gapfill_locf(spark):
    rows = [
        ("c1", "len", 0, 2, 1.0, 3.0, 4.0),
        ("c1", "len", 180_000, 1, 5.0, 5.0, 5.0),  # 2 missing buckets
    ]
    tier = spark.createDataFrame(
        rows, "conv_id string, channel string, bucket long, cnt long, "
              "vmin double, vmax double, vsum double")
    filled = gapfill(tier, 60_000, how="locf").orderBy("bucket").collect()
    assert [r.bucket for r in filled] == [0, 60_000, 120_000, 180_000]
    assert [r.is_gap for r in filled] == [False, True, True, False]
    assert [r.cnt for r in filled] == [2, 0, 0, 1]
    assert [r.vsum for r in filled] == [4.0, 4.0, 4.0, 5.0]


def test_pipeline_and_resume(spark, transcripts, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    # simulate a killed job: whole encode groups missing (conv granularity)
    half = transcripts.where(F.col("conv_id") < "conv00000020")
    res1 = run_pipeline(spark, half, wh, points_per_block=256)
    assert res1.n_blocks > 0 and res1.n_points > 0

    log = CheckpointLog(spark, wh)
    done_before = log.completed_keys("encode").count()
    assert done_before > 0

    # full input: only blocks not already encoded are produced
    res2 = run_pipeline(spark, transcripts, wh, points_per_block=256)
    done_after = log.completed_keys("encode").count()
    assert done_after > done_before

    # identical rerun: encode stage is a no-op (no new checkpoint keys)
    res3 = run_pipeline(spark, transcripts, wh, points_per_block=256)
    assert log.completed_keys("encode").count() == done_after

    # final blocks decode to the same 1m rollup as a fresh full run
    wh2 = str(tmp_path_factory.mktemp("warehouse2"))
    shutil.rmtree(wh2, ignore_errors=True)
    run_pipeline(spark, transcripts, wh2, points_per_block=256)
    a = spark.read.parquet(f"{wh}/rollup_1m")
    b = spark.read.parquet(f"{wh2}/rollup_1m")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_register_views_sql_surface(spark, transcripts, tmp_path_factory):
    """register_views exposes the warehouse to plain spark.sql: the
    points view equals decode_blocks, tier views answer SQL, and the
    blocks view supports the documented manual-prune pattern."""
    from gorilla_tsc_spark.operators.encode import decode_blocks
    from gorilla_tsc_spark.pipeline import read_blocks, register_views, run_pipeline

    wh = str(tmp_path_factory.mktemp("warehouse_views"))
    run_pipeline(spark, transcripts, wh, points_per_block=256)
    names = register_views(spark, wh, prefix="g_")
    assert {"g_blocks", "g_points", "g_rollup_1m"} <= set(names)

    pts_sql = spark.sql(
        "SELECT conv_id, channel, ts_ms, v_double, v_long FROM g_points")
    pts_api = decode_blocks(read_blocks(spark, wh)).select(
        "conv_id", "channel", "ts_ms", "v_double", "v_long")
    assert pts_sql.exceptAll(pts_api).count() == 0
    assert pts_api.exceptAll(pts_sql).count() == 0

    # tier SQL agrees with the tier parquet
    n = spark.sql("SELECT count(*) AS n FROM g_rollup_1m").first()["n"]
    assert n == spark.read.parquet(f"{wh}/rollup_1m").count() > 0

    # manual-prune pattern: filter blocks view, then sum block points
    lo = spark.sql("SELECT min(first_ts) AS t FROM g_blocks").first()["t"]
    pruned = spark.sql(
        f"SELECT sum(n_points) AS p, count(*) AS b FROM g_blocks "
        f"WHERE last_ts >= {lo} AND first_ts < {lo + 86_400_000}").first()
    total_b = spark.sql("SELECT count(*) AS b FROM g_blocks").first()["b"]
    assert 0 < pruned["b"] <= total_b and pruned["p"] > 0


# -- crash windows of the staged block commit ------------------------------

@pytest.fixture(scope="module")
def clean_1m(spark, transcripts, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse_clean"))
    run_pipeline(spark, transcripts, wh, points_per_block=256)
    return spark.read.parquet(f"{wh}/rollup_1m").cache()


def _first_half(transcripts):
    return transcripts.where(F.col("conv_id") < "conv00000020")


def assert_committed_once(spark, wh, clean_1m):
    """Each identity stored once, one encode lineage row per block, the
    1m tier equal to a clean run's, no staging left behind."""
    from gorilla_tsc_spark.operators.checkpoint import (BLOCK_ID_COLS,
                                                        group_key_col)
    stored = spark.read.parquet(f"{wh}/gorilla_blocks")   # physical rows
    n = stored.count()
    assert n > 0 and n == stored.select(*BLOCK_ID_COLS).distinct().count()
    ids = stored.select(group_key_col().alias("part_key"),
                        F.col("channel").alias("detail"))
    lineage = (CheckpointLog(spark, wh).read()
               .where(F.col("stage") == "encode").select("part_key", "detail"))
    assert lineage.count() == n
    assert lineage.exceptAll(ids).count() == 0
    assert ids.exceptAll(lineage).count() == 0
    got = spark.read.parquet(f"{wh}/rollup_1m")
    assert got.exceptAll(clean_1m).count() == 0
    assert clean_1m.exceptAll(got).count() == 0
    assert not os.path.exists(os.path.join(wh, "_staging"))


def _crash_before_log(spark, transcripts, wh, monkeypatch):
    """Staged, not logged: the lineage write fails."""
    def boom(*a, **k):
        raise RuntimeError("killed before lineage")
    monkeypatch.setattr(CheckpointLog, "log_blocks", boom)
    with pytest.raises(RuntimeError):
        run_pipeline(spark, transcripts, wh, points_per_block=256)
    staged = os.listdir(os.path.join(wh, "_staging"))
    assert len(staged) == 1
    assert not os.path.exists(f"{wh}/checkpoints")


def _crash_mid_move(spark, transcripts, wh, monkeypatch):
    """Logged, part of the staged files moved: the second move fails."""
    run_pipeline(spark, _first_half(transcripts), wh, points_per_block=256)
    before = len(os.listdir(f"{wh}/gorilla_blocks"))
    real, calls = os.replace, []

    def flaky(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("killed mid-move")
        real(src, dst)
    monkeypatch.setattr(os, "replace", flaky)
    # several part files per run, so the crash lands between two moves
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        with pytest.raises(OSError):
            run_pipeline(spark, transcripts, wh, points_per_block=256)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert len(os.listdir(f"{wh}/gorilla_blocks")) == before + 1
    (run,) = os.listdir(os.path.join(wh, "_staging"))
    assert any(f.endswith(".parquet")
               for f in os.listdir(os.path.join(wh, "_staging", run)))


def _crash_in_write(spark, transcripts, wh, monkeypatch):
    """Only Spark ``_temporary`` debris left: task output of a write
    that died before its job commit (the same identities a rerun
    encodes, so committing it would duplicate them)."""
    from gorilla_tsc_spark.operators.encode import encode_blocks
    run_pipeline(spark, _first_half(transcripts), wh, points_per_block=256)
    encode_blocks(transcripts, points_per_block=256).write.parquet(
        os.path.join(wh, "_staging", "deadrun", "_temporary", "0"))


@pytest.mark.parametrize("crash", [_crash_before_log, _crash_mid_move,
                                   _crash_in_write],
                         ids=["staged_not_logged", "logged_part_moved",
                              "temporary_debris"])
def test_crash_window_rerun_commits_once(spark, transcripts, clean_1m,
                                         tmp_path, monkeypatch, crash):
    wh = str(tmp_path / "wh")
    crash(spark, transcripts, wh, monkeypatch)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(wh, "_staging"))
    run_pipeline(spark, transcripts, wh, points_per_block=256)
    assert_committed_once(spark, wh, clean_1m)


def test_no_resume_rerun_appends_no_stored_identity(spark, transcripts,
                                                    clean_1m, tmp_path):
    wh = str(tmp_path / "wh")
    run_pipeline(spark, _first_half(transcripts), wh, points_per_block=256)
    run_pipeline(spark, transcripts, wh, points_per_block=256, resume=False)
    assert_committed_once(spark, wh, clean_1m)
