"""Block compaction: decode identity, block-count reduction, and
metadata-tier equality (operators/compact.py)."""
from __future__ import annotations

from pyspark.sql import functions as F

from gorilla_tsc_spark.operators.compact import compact_blocks
from gorilla_tsc_spark.operators.encode import decode_blocks, encode_blocks
from gorilla_tsc_spark.operators.rollup import rollup_from_day_subaggs


def _small_blocks(spark):
    from gorilla_tsc_spark.queries import _transcripts
    t = _transcripts(spark, "/root/testdata/sf0.001")
    # points_per_block=16 fragments every conversation into many tiny
    # blocks — the streaming-seal / sparse-day shape compaction exists for
    return encode_blocks(t, points_per_block=16)


def _point_set(blocks):
    return {tuple(r) for r in decode_blocks(blocks)
            .select("conv_id", "channel", "ts_ms", "v_double", "v_long")
            .collect()}


def test_compact_decode_identity_and_reduction(spark):
    blocks = _small_blocks(spark).cache()
    compacted = compact_blocks(blocks).cache()
    n_before = blocks.count()
    n_after = compacted.count()
    assert n_after < n_before / 4, (n_before, n_after)
    # every compacted block is one series, seq reset, payload consistent
    bad = compacted.where(
        (F.col("seq") != 0)
        | (F.length("payload") != F.ceil(F.col("n_bits") / 8.0))).count()
    assert bad == 0
    assert _point_set(compacted) == _point_set(blocks)
    # compression must not get WORSE per point (header amortization)
    b = blocks.agg(F.sum(F.length("payload"))).first()[0]
    c = compacted.agg(F.sum(F.length("payload"))).first()[0]
    assert c < b


def test_compact_splits_at_delta_overflow_gaps(spark):
    """A series with >GAP_SPLIT_MS quiet stretches must split into one
    block per active stretch (the 32-bit delta-of-delta bound), and
    still decode exactly — the sandbox fixtures never contain 23-day
    gaps, so this path needs synthetic input."""
    import numpy as np

    from gorilla_tsc_spark.operators.encode import (
        GAP_SPLIT_MS,
        encode_points,
    )
    from gorilla_tsc_spark.functions.channels import Channel

    t0 = 1_700_000_000_000
    rows = []
    # three activity bursts separated by ~25-day gaps; day-aligned
    # encode first produces one block per (day, burst)
    for burst in range(3):
        base = t0 + burst * (GAP_SPLIT_MS + 7 * 86_400_000)
        for i in range(50):
            rows.append(("convA", base + i * 60_000, 0,
                         float(100 * burst + i)))
    pts = spark.createDataFrame(
        rows, "conv_id string, ts_ms long, turn_idx long, ch_len double"
    ).selectExpr("conv_id", "ts_ms",
                 "CAST(floor(ts_ms / 86400000) AS LONG) AS day",
                 "CAST(0 AS INT) AS seq", "turn_idx", "ch_len")
    blocks = encode_points(pts, [Channel("len", "double")])
    compacted = compact_blocks(blocks)
    got = compacted.orderBy("first_ts").collect()
    assert len(got) == 3, [r.n_points for r in got]
    assert all(r.n_points == 50 for r in got)
    assert _point_set(compacted) == _point_set(blocks)
    # every step INSIDE a compacted block fits the dod bound
    for r in got:
        assert r.last_ts - r.first_ts < GAP_SPLIT_MS


def test_compact_day_tier_matches(spark):
    # tier equality over the AGG channels only (as the pipeline serves
    # them): text_hash is agg=False exactly because float64 sums of
    # 2^63-magnitude hashes are order-dependent (channels.py)
    from gorilla_tsc_spark.functions.channels import agg_channel_names
    blocks = _small_blocks(spark)
    compacted = compact_blocks(blocks)
    keep = agg_channel_names()

    def tier(b):
        return {tuple(r) for r in rollup_from_day_subaggs(b)
                .where(F.col("channel").isin(keep)).collect()}

    assert tier(compacted) == tier(blocks)


def test_decode_crc_verification(spark):
    """verify_crc=True decodes clean blocks identically and fails
    loudly on a corrupted payload."""
    import pyspark
    from pyspark.sql import functions as F

    blocks = _small_blocks(spark).limit(50).cache()
    ok = decode_blocks(blocks, verify_crc=True).count()
    assert ok == decode_blocks(blocks).count()

    # corrupt every payload by appending a stray byte — the stored crc
    # can no longer match (appending never collides, unlike overwriting
    # the first byte with a value it might already hold)
    corrupted = blocks.withColumn(
        "payload", F.concat(F.col("payload"), F.lit(b"\x5a")))
    try:
        decode_blocks(corrupted, verify_crc=True).count()
        raise AssertionError("corrupted payload decoded without error")
    except pyspark.errors.exceptions.captured.PythonException as e:
        assert "crc mismatch" in str(e)


def test_compact_and_purge_dfcm_store(spark):
    """Compaction and range purge of a DFCM-encoded store must decode
    with the store's predictor: point identity preserved (this used to
    silently decode DFCM payloads as last_value and rewrite garbage)."""
    from pyspark.sql import functions as F

    from gorilla_tsc_spark.operators.compact import compact_blocks
    from gorilla_tsc_spark.operators.encode import decode_blocks, encode_blocks
    from gorilla_tsc_spark.operators.purge import purge_range
    from gorilla_tsc_spark.queries import _transcripts

    PRED = "dfcm1024"
    t = _transcripts(spark, "/root/testdata/sf0.001")
    blocks = encode_blocks(t, predictor=PRED).cache()

    def pset(b):
        return {tuple(r) for r in decode_blocks(b, PRED)
                .select("conv_id", "channel", "ts_ms", "v_double", "v_long")
                .collect()}

    want = pset(blocks)
    compacted = compact_blocks(blocks, predictor=PRED)
    assert pset(compacted) == want

    lo = blocks.agg(F.min("first_ts")).first()[0]
    t0 = (lo // 86_400_000 + 1) * 86_400_000
    victims = [r[0] for r in blocks.select("conv_id").distinct()
               .orderBy("conv_id").limit(2).collect()]
    purged = purge_range(blocks, victims, t0, t0 + 86_400_000,
                         predictor=PRED)
    want_purged = {r for r in want
                   if not (r[0] in victims and t0 <= r[2] < t0 + 86_400_000)}
    assert pset(purged) == want_purged
    blocks.unpersist()
