"""Structured Streaming: watermarked rollup and stateful block encode."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gorilla_tsc_spark.codec.gorilla import GorillaDecoder
from gorilla_tsc_spark.operators.rollup import MINUTE_MS, rollup_points
from gorilla_tsc_spark.sources.transcripts import synthesize_transcripts
from gorilla_tsc_spark.streaming import (
    stream_distinct_sketch_1m,
    stream_encode_blocks,
    stream_rollup_1m,
)


@pytest.fixture(scope="module")
def transcripts_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in") / "transcripts")
    t = synthesize_transcripts(spark, n_convs=20, max_turns=300)
    t.write.parquet(path)
    return path


def test_stream_rollup_matches_batch(spark, transcripts_dir, tmp_path):
    batch_t = spark.read.parquet(transcripts_dir)
    stream_t = spark.readStream.schema(batch_t.schema).parquet(transcripts_dir)
    out = stream_rollup_1m(stream_t)
    q = (out.writeStream.format("memory").queryName("roll1m")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM roll1m")

    pts = batch_t.select(
        "conv_id", F.unix_millis("ts").alias("ts_ms"),
        F.length("text").cast("double").alias("v"))
    want = rollup_points(pts, MINUTE_MS, F.col("v"), keys=("conv_id",))
    # append mode only emits buckets whose watermark passed; every
    # emitted bucket must match the batch tier exactly, and most buckets
    # should have been emitted (only the per-conv tail can be withheld)
    emitted = got.count()
    assert emitted > 0
    diff = got.exceptAll(want).count()
    assert diff == 0, "streaming rollup emitted a bucket batch disagrees with"
    assert emitted >= want.count() - 20  # ≤ one open bucket per conv


def test_stream_distinct_sketch_matches_batch(spark, transcripts_dir,
                                              tmp_path):
    """Every emitted minute bucket's streamed HLL estimate must equal
    the batch sketch tier's estimate for the same bucket (HLL content
    is insertion-order-insensitive)."""
    from gorilla_tsc_spark.operators.sketches import (
        distinct_sketch_tier,
        estimate,
    )

    batch_t = spark.read.parquet(transcripts_dir)
    stream_t = spark.readStream.schema(batch_t.schema).parquet(transcripts_dir)
    out = stream_distinct_sketch_1m(stream_t)
    q = (out.writeStream.format("memory").queryName("sk1m")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["bucket"]: r["approx_distinct"] for r in
           spark.sql("SELECT bucket, hll_sketch_estimate(sketch) "
                     "AS approx_distinct FROM sk1m").collect()}
    assert got, "no buckets emitted"

    want = {r["bucket"]: r["approx_distinct"] for r in estimate(
        distinct_sketch_tier(
            batch_t.withColumn("ts_ms", F.unix_millis("ts")), MINUTE_MS))
        .collect()}
    for b, est in got.items():
        assert est == want[b], (b, est, want[b])
    # append mode withholds only buckets past the watermark tail
    assert len(got) >= len(want) - 20


def test_stream_item_counts_feed_topk(spark, transcripts_dir, tmp_path):
    """Streamed fine counts must equal the batch topk fine tier (no
    truncation on either side), and truncating the streamed sink in
    batch must reproduce batch topk_tier exactly."""
    from gorilla_tsc_spark.operators.sketches import (
        _truncate_topk,
        topk_tier,
    )
    from gorilla_tsc_spark.streaming import stream_item_counts_1m

    batch_t = spark.read.parquet(transcripts_dir)
    stream_t = spark.readStream.schema(batch_t.schema).parquet(transcripts_dir)
    q = (stream_item_counts_1m(stream_t).writeStream.format("memory")
         .queryName("hh1m").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck4"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM hh1m").cache()
    assert got.count() > 0

    pts = batch_t.select(
        F.unix_millis("ts").alias("ts_ms"),
        F.expr("coalesce(tool, 'none')").alias("item"))
    want_full = topk_tier(pts, MINUTE_MS, "item", k=1_000_000)
    # every emitted (bucket, item) count matches batch exactly
    assert got.select("bucket", "item", "cnt_lb").exceptAll(
        want_full.select("bucket", "item", "cnt_lb")).count() == 0

    # serve-side truncation of the streamed sink == batch topk_tier
    k = 2
    trunc = _truncate_topk(got.select("bucket", "item", "cnt_lb", "err"),
                           k)
    want_k = topk_tier(pts, MINUTE_MS, "item", k=k)
    emitted_buckets = [r["bucket"] for r in
                       got.select("bucket").distinct().collect()]
    diff = (trunc.exceptAll(
        want_k.where(F.col("bucket").isin(emitted_buckets))).count())
    assert diff == 0
    got.unpersist()


def test_stream_encode_blocks_decode(spark, transcripts_dir, tmp_path):
    batch_t = spark.read.parquet(transcripts_dir)
    stream_t = spark.readStream.schema(batch_t.schema).parquet(transcripts_dir)
    # short processing-time timeout + bounded await: the remainder
    # flush fires within a few empty micro-batches instead of the
    # 60 s production default, cutting this test from ~180 s to ~30 s
    # without changing what it proves (full blocks seal on size, the
    # tail seals on timeout, every sealed payload decodes exactly)
    blocks = stream_encode_blocks(stream_t, points_per_block=16,
                                  timeout_ms=3_000)
    q = (blocks.writeStream.format("memory").queryName("gblocks")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM gblocks").collect()
    assert rows, "no sealed blocks"
    src = {}
    for r in batch_t.select(
            "conv_id",
            F.floor(F.unix_millis("ts") / 86_400_000).cast("long").alias("day"),
            F.unix_millis("ts").alias("ts_ms"),
            F.length("text").cast("double").alias("v")).collect():
        src.setdefault((r.conv_id, r.day), []).append((r.ts_ms, r.v))
    for r in rows:
        ts_dec, bits = GorillaDecoder(bytes(r.payload)).read_all()
        # full blocks seal at points_per_block; timeout flush seals the
        # remainder (< points_per_block)
        assert len(ts_dec) == r.n_points and 1 <= r.n_points <= 16
        vals = bits.view(np.float64)
        key = (r.conv_id, r.block_start // 86_400_000)
        expect = dict(sorted(src[key]))
        for t, v in zip(ts_dec.tolist(), vals.tolist()):
            assert expect[t] == v

    # each chunk's seq is its first turn_idx // points_per_block (the
    # batch rule), so no two sealed blocks share an identity; where a
    # day's turns run contiguously from a multiple of 16, the chunks ARE
    # the batch encoder's blocks
    from gorilla_tsc_spark.operators.encode import encode_blocks
    from gorilla_tsc_spark.queries import LEN_CHANNEL
    ids = [(r.conv_id, r.channel, r.block_start, r.seq) for r in rows]
    assert len(set(ids)) == len(ids)
    day_ms = F.floor(F.unix_millis("ts") / 86_400_000) * 86_400_000
    aligned = (batch_t.groupBy("conv_id", day_ms.alias("block_start"))
               .agg(F.min("turn_idx").alias("t0"), F.max("turn_idx").alias("t1"),
                    F.count(F.lit(1)).alias("n"))
               .where((F.col("t0") % 16 == 0)
                      & (F.col("t1") - F.col("t0") + 1 == F.col("n")))
               .select("conv_id", "block_start"))
    got = spark.sql("SELECT * FROM gblocks").join(
        aligned, ["conv_id", "block_start"], "left_semi").cache()
    want = encode_blocks(batch_t, LEN_CHANNEL, points_per_block=16).join(
        aligned, ["conv_id", "block_start"], "left_semi")
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    got.unpersist()


def test_eventtime_sealed_blocks_are_store_rows(spark, transcripts_dir,
                                                tmp_path):
    """Watermark-sealed day blocks are ordinary store rows: equal, row
    for row and byte for byte, to the batch encoder's blocks of the
    same points; they audit clean (aggregates included) and compact
    as they are to the source point set."""
    from datetime import timedelta

    from gorilla_tsc_spark.operators.audit import audit_blocks, audit_summary
    from gorilla_tsc_spark.operators.compact import compact_blocks
    from gorilla_tsc_spark.operators.encode import decode_blocks, encode_blocks
    from gorilla_tsc_spark.queries import LEN_CHANNEL
    from gorilla_tsc_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
    from gorilla_tsc_spark.streaming.encode_stream import (
        stream_encode_blocks_eventtime)

    batch_t = spark.read.parquet(transcripts_dir)
    replay = str(tmp_path / "replay_enc")
    batch_t.write.parquet(replay)
    max_ts = batch_t.agg(F.max("ts")).first()[0]
    spark.createDataFrame(
        [("__sentinel__", 0, "user", "x", None, max_ts + timedelta(days=3))],
        schema=TRANSCRIPTS_SCHEMA).write.mode("append").parquet(replay)
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(replay)
    q = (stream_encode_blocks_eventtime(stream).writeStream.format("memory")
         .queryName("sealed_days").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_sealed"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    sealed = (spark.sql("SELECT * FROM sealed_days")
              .where(F.col("conv_id") != "__sentinel__").cache())

    want = encode_blocks(batch_t, LEN_CHANNEL)
    assert sealed.count() == want.count() > 0
    assert sealed.exceptAll(want).count() == 0
    assert want.exceptAll(sealed).count() == 0

    summary = audit_summary(audit_blocks(sealed)).first().asDict()
    assert summary.pop("n_blocks") == sealed.count()
    assert set(summary.values()) == {0}, summary

    got = sorted(tuple(r) for r in decode_blocks(compact_blocks(sealed))
                 .select("conv_id", "ts_ms", "v_double").collect())
    src = sorted(tuple(r) for r in batch_t.select(
        "conv_id", F.unix_millis("ts"),
        F.length("text").cast("double")).collect())
    assert got == src
    sealed.unpersist()


def test_stream_heartbeat_matches_batch(spark, transcripts_dir, tmp_path):
    """Every watermark-sealed streaming heartbeat row must bit-equal
    the batch heartbeat_tier row for the same (conv, bucket); a
    far-future sentinel advances the final watermark so EVERY bucket
    seals under the bounded replay → full-set equality, not subset."""
    from datetime import timedelta

    from gorilla_tsc_spark.operators.heartbeat import heartbeat_tier
    from gorilla_tsc_spark.operators.rollup import HOUR_MS
    from gorilla_tsc_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
    from gorilla_tsc_spark.streaming import stream_heartbeat_tier

    HB = 5 * 60_000
    batch_t = spark.read.parquet(transcripts_dir)
    replay = str(tmp_path / "replay")
    batch_t.write.parquet(replay)
    max_ts = batch_t.agg(F.max("ts")).first()[0]
    spark.createDataFrame(
        [("__sentinel__", 0, "user", "x", None, max_ts + timedelta(days=3))],
        schema=TRANSCRIPTS_SCHEMA).write.mode("append").parquet(replay)

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(replay)
    out = stream_heartbeat_tier(stream, HOUR_MS, HB)
    q = (out.writeStream.format("memory").queryName("hb_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_hb"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = (spark.sql("SELECT * FROM hb_stream")
           .where(F.col("conv_id") != "__sentinel__"))

    beats = batch_t.select("conv_id", F.unix_millis("ts").alias("ts_ms"))
    want = heartbeat_tier(beats, HOUR_MS, HB)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_corr_and_twa_match_batch(spark, transcripts_dir, tmp_path):
    """Streaming twins for the round-4/5 families: corr and hist (pure
    watermarked sums, order-insensitive) full-set-equal the batch tier
    under sentinel replay; twa (stateful LOCF integral) likewise."""
    from datetime import timedelta

    from gorilla_tsc_spark.operators.correlate import corr_tier
    from gorilla_tsc_spark.operators.histogram import histogram_tier
    from gorilla_tsc_spark.operators.rollup import HOUR_MS
    from gorilla_tsc_spark.operators.statetier import state_tier
    from gorilla_tsc_spark.operators.timeweight import twa_tier
    from gorilla_tsc_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
    from gorilla_tsc_spark.operators.autocorr import autocorr_tier
    from gorilla_tsc_spark.operators.candle import candle_tier
    from gorilla_tsc_spark.operators.exphist import exphist_tier
    from gorilla_tsc_spark.operators.trend import trend_tier
    from gorilla_tsc_spark.streaming import (stream_autocorr_tier,
                                             stream_candle_tier,
                                             stream_corr_tier,
                                             stream_exphist_tier,
                                             stream_hist_tier,
                                             stream_state_tier,
                                             stream_trend_tier,
                                             stream_twa_tier)

    batch_t = spark.read.parquet(transcripts_dir)
    replay = str(tmp_path / "replay2")
    batch_t.write.parquet(replay)
    max_ts = batch_t.agg(F.max("ts")).first()[0]
    spark.createDataFrame(
        [("__sentinel__", 0, "user", "x", None, max_ts + timedelta(days=3))],
        schema=TRANSCRIPTS_SCHEMA).write.mode("append").parquet(replay)
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(replay)
    candle_want = candle_tier(batch_t.select(
        "conv_id", F.unix_millis("ts").alias("ts_ms"),
        F.length("text").cast("double").alias("v"),
        F.size(F.split("text", r"\s+")).cast("double").alias("vol")),
        HOUR_MS, vol_col="vol")

    for name, out, want in (
        ("corr_stream",
         stream_corr_tier(stream, window="1 hour"),
         corr_tier(batch_t.select(
             "conv_id", F.unix_millis("ts").alias("ts_ms"),
             F.length("text").cast("double").alias("x"),
             F.size(F.split("text", r"\s+")).cast("double").alias("y")),
             HOUR_MS)),
        ("twa_stream",
         stream_twa_tier(stream, HOUR_MS),
         twa_tier(batch_t.select(
             "conv_id", F.unix_millis("ts").alias("ts_ms"),
             F.length("text").cast("double").alias("v")), HOUR_MS)),
        ("hist_stream",
         stream_hist_tier(stream.select(
             "conv_id", "ts", F.length("text").cast("double").alias("v")),
             32.0, 8.0, 8, window="1 hour"),
         histogram_tier(batch_t.select(
             "conv_id", F.unix_millis("ts").alias("ts_ms"),
             F.length("text").cast("double").alias("v")),
             HOUR_MS, 32.0, 8.0, 8)),
        ("state_stream",
         stream_state_tier(stream.select(
             "conv_id", "ts",
             F.when(F.col("role") == "user", 0)
              .when(F.col("role") == "assistant", 1)
              .otherwise(2).alias("s")), HOUR_MS, 3),
         state_tier(batch_t.select(
             "conv_id", F.unix_millis("ts").alias("ts_ms"),
             F.when(F.col("role") == "user", 0)
              .when(F.col("role") == "assistant", 1)
              .otherwise(2).cast("int").alias("s")), HOUR_MS, 3)),
        ("candle_stream",
         stream_candle_tier(stream.select(
             "conv_id", "ts", F.length("text").cast("double").alias("v"),
             F.size(F.split("text", r"\s+")).cast("double").alias("vol")),
             vol_col="vol", window="1 hour"),
         candle_want),
        ("autocorr_stream",
         stream_autocorr_tier(stream.select(
             "conv_id", "ts", F.length("text").cast("double").alias("v")),
             HOUR_MS),
         autocorr_tier(batch_t.select(
             "conv_id", F.unix_millis("ts").alias("ts_ms"),
             F.length("text").cast("double").alias("v")), HOUR_MS)),
        ("exphist_stream",
         stream_exphist_tier(stream.select(
             "conv_id", "ts", F.length("text").cast("double").alias("v")),
             9, window="1 hour"),
         exphist_tier(batch_t.select(
             "conv_id", F.unix_millis("ts").alias("ts_ms"),
             F.length("text").cast("double").alias("v")), HOUR_MS, 9)),
        ("trend_stream",
         stream_trend_tier(stream.select(
             "conv_id", "ts", F.length("text").cast("double").alias("v")),
             HOUR_MS),
         trend_tier(batch_t.select(
             "conv_id", F.unix_millis("ts").alias("ts_ms"),
             F.length("text").cast("double").alias("v")), HOUR_MS)),
    ):
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = (spark.sql(f"SELECT * FROM {name}")
               .where(F.col("conv_id") != "__sentinel__"))
        assert got.count() == want.count(), name
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name

    # streamed candle rows carry the full batch column set, so they
    # cascade exactly like the batch rows
    from gorilla_tsc_spark.operators.candle import cascade_candle_tier
    from gorilla_tsc_spark.operators.rollup import DAY_MS
    got_day = cascade_candle_tier(
        spark.sql("SELECT * FROM candle_stream")
        .where(F.col("conv_id") != "__sentinel__"), HOUR_MS, DAY_MS)
    want_day = cascade_candle_tier(candle_want, HOUR_MS, DAY_MS)
    assert got_day.count() == want_day.count()
    assert got_day.exceptAll(want_day).count() == 0
    assert want_day.exceptAll(got_day).count() == 0
