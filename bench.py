"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line as the FINAL stdout line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "encode_turns_per_sec": ..., "bytes_per_point": ...,
   "vs_prev": {name: cur/prev ratio, ...}, "detail": <path>}

The driver captures only the LAST ~2000 bytes of output, so the core
line is budget-enforced (< ~1900 bytes: progressive field drops, never
truncation mid-object — round 3's lesson, where one ever-growing line
outgrew the capture window and the round lost its perf record).  The
full record (noise spreads, serve/audit/compaction counters, unrounded
timings) goes to BENCH/DETAIL_<cores>c_<UTC time>.json instead (or to
$SPARK_GRAFT_BENCH_DETAIL), so a run never overwrites an earlier
record and each record names the core count it ran on.  Git ignores
these files; add one with `git add -f` to keep it.

The headline job is the north-rule pipeline slice: transcripts →
Gorilla blocks (3 channels) → day-tier rollup from block metadata,
reported as turns/sec and compressed bytes/point. The remaining
queries cover the rollup/gap-fill/retention tiers, the decode path,
relational operators, and the training-data ops.

Earlier N vs 4N parallelism results are kept in BENCH/BASELINE.md.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _bw_probe(_=None) -> tuple[float, float]:
    """(cold, warm) memory-bandwidth samples in MB/s (~1-3 s).

    cold = first multiply, dominated by result-buffer page faults —
    tracks the host's memory-management contention (can be 25x slower
    than warm on a bad day); warm = steady-state streaming bandwidth.
    """
    import numpy as np
    a = np.ones(100_000_000 // 8)
    t0 = time.time()
    a * 1.000001
    cold = 200 / (time.time() - t0)
    t0 = time.time()
    for _ in range(5):
        a * 1.000001
    return cold, 5 * 200 / (time.time() - t0)


def _host_probe() -> dict | None:
    """Stamp the bench record with the host's memory-bandwidth envelope.

    The sandbox host's aggregate bandwidth drifts by day (measured 21
    GB/s -> 2.4 GB/s at 8 procs between rounds 4 and 5 with zero code
    change — BENCH/BASELINE.md 'day-2 re-runs'), which dominates every
    data-bound timing. Recording the envelope beside the timings makes
    records comparable after the fact. Runs AFTER all measurements so
    it cannot perturb them; skipped via SPARK_GRAFT_BENCH_HOSTPROBE=0.
    """
    if os.environ.get("SPARK_GRAFT_BENCH_HOSTPROBE", "1") == "0":
        return None
    try:
        from multiprocessing import Pool
        cold, warm = _bw_probe()
        with Pool(8) as p:
            pairs = p.map(_bw_probe, range(8))
        return {"bw_1proc_cold_MBs": round(cold),
                "bw_1proc_warm_MBs": round(warm),
                "bw_8proc_agg_cold_MBs": round(sum(c for c, _ in pairs)),
                "bw_8proc_agg_warm_MBs": round(sum(w for _, w in pairs))}
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)

    from pyspark.sql import functions as F

    from gorilla_tsc_spark import queries as Q
    from gorilla_tsc_spark.operators.encode import encode_blocks
    from gorilla_tsc_spark.operators.rollup import rollup_from_block_meta
    from gorilla_tsc_spark.session import get_spark

    spark = get_spark("bench", cores=cores,
                      shuffle_partitions=max(cores, 8))
    timings: dict[str, float] = {}

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spreads: dict[str, float] = {}

    def run(name: str, fn) -> None:
        # best-of-N with the spread recorded: host timing noise on this
        # box is 2-5x, so the min is the signal and (max-min)/min says
        # how noisy the samples were (the BENCH/BASELINE.md protocol).
        samples = []
        for _ in range(max(reps, 1)):
            t0 = time.time()
            fn()
            samples.append(time.time() - t0)
        best = min(samples)
        timings[name] = round(best, 3)
        spreads[name] = round((max(samples) - best) / best, 2) if best else 0.0

    # Warm up JVM + Arrow Python workers outside the timed region (the
    # reference's JMH harness likewise runs 5 warmup iterations,
    # EncodingBenchmark.java:38-50).
    t = Q._transcripts(spark, sf_dir)
    n_turns = t.count()
    encode_blocks(Q._transcripts(spark, "/root/testdata/sf0.001")).count()

    stats = {}

    def encode_rollup():
        # pipeline-realistic: encode once → write the blocks tier →
        # aggregate + day-rollup from the written tier
        import shutil
        import tempfile
        tmp = tempfile.mkdtemp(prefix="bench_blocks_")
        try:
            encode_blocks(Q._transcripts(spark, sf_dir)).write.mode(
                "overwrite").parquet(tmp)
            blocks = spark.read.parquet(tmp)
            r = blocks.agg(
                F.sum("n_points"), F.sum(F.length("payload")),
                F.count(F.lit(1))).first()
            tier = rollup_from_block_meta(blocks)
            stats["tier_rows"] = tier.count()
            stats["points"], stats["payload_bytes"], stats["blocks"] = r
            stats["chan"] = {
                row[0]: round(row[1], 2)
                for row in blocks.groupBy("channel").agg(
                    (F.sum("n_bits") / F.sum("n_points")).alias("bpp"))
                .collect()}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    run("encode_rollup", encode_rollup)

    def encode_span_auto():
        # compression-optimal blocking: whole-conversation blocks
        r = (encode_blocks(Q._transcripts(spark, sf_dir), span="auto")
             .agg(F.sum("n_points"), F.sum(F.length("payload"))).first())
        stats["auto_points"], stats["auto_bytes"] = int(r[0]), int(r[1])

    run("encode_span_auto", encode_span_auto)

    # maintenance path: merge small-block debris (streaming seals /
    # sparse days) back into span-auto blocks.  Input is materialized
    # once outside the timed region; the timed op is one
    # (conv_id, channel)-keyed shuffle + batch decode/re-encode.
    from gorilla_tsc_spark.operators.compact import compact_blocks
    small = encode_blocks(Q._transcripts(spark, sf_dir),
                          points_per_block=64).persist()
    stats["small_blocks"] = small.count()

    def compact_small():
        stats["compacted_blocks"] = compact_blocks(small).count()

    run("compact_blocks", compact_small)
    small.unpersist()

    # ingest path: merge a late batch into a sealed store
    # (operators/backfill.py).  Realistic shape: ~5 % of CONVERSATIONS
    # have late turns (a delayed export), the other 95 % of the store
    # must pass through untouched — that anti-join passthrough is the
    # property being timed, alongside the copy-on-write re-encode of
    # the affected slice.  Store and late batch materialize once
    # outside the timed region.
    from gorilla_tsc_spark.operators.backfill import ingest_backfill
    late_conv = F.crc32(F.col("conv_id")) % 20 == 0
    late_turn = F.col("turn_idx") % 5 == 2
    late_t = t.where(late_conv & late_turn).localCheckpoint()
    store_bf = encode_blocks(
        t.where(~(late_conv & late_turn))).persist()
    stats["backfill_store_blocks"] = store_bf.count()
    stats["backfill_late_rows"] = late_t.count()

    def backfill_bench():
        stats["backfill_out_blocks"] = ingest_backfill(
            store_bf, late_t).count()

    run("backfill_merge", backfill_bench)
    store_bf.unpersist()

    # serve + compliance paths over a materialized block store
    from gorilla_tsc_spark.operators.purge import purge_range
    from gorilla_tsc_spark.operators.retention import read_range
    from gorilla_tsc_spark.operators.rollup import DAY_MS
    from gorilla_tsc_spark.operators.sketches import (
        distinct_sketch_tier,
        merge_sketch_tier,
    )

    store = encode_blocks(Q._transcripts(spark, sf_dir)).persist()
    store.count()
    lo, _hi = store.agg(F.min("first_ts"), F.max("last_ts")).first()
    t0 = (lo // DAY_MS + 1) * DAY_MS
    t1 = t0 + DAY_MS

    def read_range_day():
        stats["range_points"] = read_range(store, t0, t1).count()

    run("read_range_day", read_range_day)

    # zone-map value scan: "where did len exceed its p99?" — the prune
    # must keep the decode to the envelope-crossing blocks only
    from gorilla_tsc_spark.operators.retention import read_value_range
    v99 = (store.where(F.col("channel") == "len")
           .agg(F.expr("percentile(agg_max, 0.99)")).first()[0])

    def value_scan():
        stats["value_scan_points"] = read_value_range(
            store, v99, channel="len").count()

    run("value_scan_exceed", value_scan)

    victims = [r[0] for r in store.select("conv_id").distinct()
               .orderBy("conv_id").limit(100).collect()]

    def purge_range_bench():
        stats["post_purge_blocks"] = purge_range(
            store, victims, t0, t1).count()

    run("purge_range", purge_range_bench)

    from gorilla_tsc_spark.operators.audit import audit_blocks, audit_summary

    def audit_store():
        row = audit_summary(audit_blocks(store)).first()
        stats["audit"] = {k: int(v) for k, v in row.asDict().items()}

    run("audit_blocks", audit_store)
    store.unpersist()

    def hll_tier():
        t_ms = Q._transcripts(spark, sf_dir).withColumn(
            "ts_ms", F.unix_millis("ts"))
        stats["hll_30d_buckets"] = merge_sketch_tier(
            distinct_sketch_tier(t_ms, DAY_MS), DAY_MS, 30 * DAY_MS).count()

    run("hll_distinct_tier", hll_tier)

    from gorilla_tsc_spark.operators.sketches import (merge_topk_tier,
                                                      topk_tier)

    def topk_tier_bench():
        t_ms = Q._transcripts(spark, sf_dir).select(
            F.unix_millis("ts").alias("ts_ms"),
            F.coalesce("tool", F.lit("none")).alias("item"))
        stats["topk_30d_rows"] = merge_topk_tier(
            topk_tier(t_ms, DAY_MS, "item"), DAY_MS, 30 * DAY_MS).count()

    run("topk_heavy_hitters_tier", topk_tier_bench)

    from gorilla_tsc_spark.operators.correlate import (cascade_corr_tier,
                                                       corr_estimates,
                                                       corr_tier)
    from gorilla_tsc_spark.operators.rollup import HOUR_MS

    def corr_tier_bench():
        xy = Q._transcripts(spark, sf_dir).select(
            "conv_id", F.unix_millis("ts").alias("ts_ms"),
            F.length("text").cast("double").alias("x"),
            F.size(F.split("text", r"\s+")).cast("double").alias("y"))
        tier = corr_tier(xy, HOUR_MS)
        stats["corr_1d_buckets"] = corr_estimates(
            cascade_corr_tier(tier, HOUR_MS, DAY_MS)).count()

    run("corr_tier_1h_1d", corr_tier_bench)

    from gorilla_tsc_spark.operators.timeweight import (cascade_twa_tier,
                                                        twa_estimates,
                                                        twa_tier)

    def twa_tier_bench():
        pts = Q._transcripts(spark, sf_dir).select(
            "conv_id", F.unix_millis("ts").alias("ts_ms"),
            F.length("text").cast("double").alias("v"))
        tier = twa_tier(pts, HOUR_MS)
        stats["twa_1d_buckets"] = twa_estimates(
            cascade_twa_tier(tier, HOUR_MS, DAY_MS)).count()

    run("twa_tier_1h_1d", twa_tier_bench)

    from gorilla_tsc_spark.operators.heartbeat import (
        cascade_heartbeat_tier, heartbeat_estimates, heartbeat_tier)

    def heartbeat_tier_bench():
        beats = Q._transcripts(spark, sf_dir).select(
            "conv_id", F.unix_millis("ts").alias("ts_ms"))
        tier = heartbeat_tier(beats, HOUR_MS, 5 * 60_000)
        stats["hb_1d_buckets"] = heartbeat_estimates(
            cascade_heartbeat_tier(tier, HOUR_MS, DAY_MS, 5 * 60_000)).count()

    run("heartbeat_tier_1h_1d", heartbeat_tier_bench)

    from gorilla_tsc_spark.operators.rate import (cascade_rate_tier,
                                                  rate_estimates, rate_tier)

    def rate_tier_bench():
        ctr = Q.synth_counter(Q._len_points(spark, sf_dir))
        tier = rate_tier(ctr, HOUR_MS)
        stats["rate_1d_buckets"] = rate_estimates(
            cascade_rate_tier(tier, HOUR_MS, DAY_MS)).count()

    run("rate_tier_1h_1d", rate_tier_bench)

    from gorilla_tsc_spark.operators.histogram import (cascade_hist_tier,
                                                       hist_estimates,
                                                       histogram_tier)

    def hist_tier_bench():
        pts = Q._len_points(spark, sf_dir)
        tier = histogram_tier(pts, HOUR_MS, 24.0, 4.0, 16)
        stats["hist_1d_buckets"] = hist_estimates(
            cascade_hist_tier(tier, HOUR_MS, DAY_MS, 16),
            24.0, 4.0, 16).count()

    run("hist_tier_1h_1d", hist_tier_bench)

    from gorilla_tsc_spark.operators.statetier import (cascade_state_tier,
                                                       state_estimates,
                                                       state_tier)

    def state_tier_bench():
        spts = Q._transcripts(spark, sf_dir).select(
            "conv_id", F.unix_millis("ts").alias("ts_ms"),
            F.when(F.col("role") == "user", 0)
             .when(F.col("role") == "assistant", 1)
             .otherwise(2).cast("int").alias("s"))
        tier = state_tier(spts, HOUR_MS, 3)
        stats["state_1d_buckets"] = state_estimates(
            cascade_state_tier(tier, HOUR_MS, DAY_MS, 3),
            Q.STATE_NAMES).count()

    run("state_tier_1h_1d", state_tier_bench)

    from gorilla_tsc_spark.operators.candle import (candle_estimates,
                                                    candle_tier,
                                                    cascade_candle_tier)

    def candle_tier_bench():
        cpts = Q._transcripts(spark, sf_dir).select(
            "conv_id", F.unix_millis("ts").alias("ts_ms"),
            F.length("text").cast("double").alias("v"),
            F.size(F.split("text", r"\s+")).cast("double").alias("vol"))
        tier = candle_tier(cpts, HOUR_MS, vol_col="vol")
        stats["candle_1d_buckets"] = candle_estimates(
            cascade_candle_tier(tier, HOUR_MS, DAY_MS)).count()

    run("candle_tier_1h_1d", candle_tier_bench)

    from gorilla_tsc_spark.operators.autocorr import (autocorr_estimates,
                                                      autocorr_tier,
                                                      cascade_autocorr_tier)

    def autocorr_tier_bench():
        pts = Q._len_points(spark, sf_dir)
        tier = autocorr_tier(pts, HOUR_MS)
        stats["autocorr_1d_buckets"] = autocorr_estimates(
            cascade_autocorr_tier(tier, HOUR_MS, DAY_MS)).count()

    run("autocorr_tier_1h_1d", autocorr_tier_bench)

    from gorilla_tsc_spark.operators.exphist import (cascade_exphist_tier,
                                                     exphist_estimates,
                                                     exphist_tier)

    def exphist_tier_bench():
        pts = Q._len_points(spark, sf_dir)
        tier = exphist_tier(pts, HOUR_MS, Q.EXPHIST_NBINS)
        stats["exphist_1d_buckets"] = exphist_estimates(
            cascade_exphist_tier(tier, HOUR_MS, DAY_MS, Q.EXPHIST_NBINS),
            Q.EXPHIST_NBINS).count()

    run("exphist_tier_1h_1d", exphist_tier_bench)

    from gorilla_tsc_spark.operators.trend import (cascade_trend_tier,
                                                   trend_estimates,
                                                   trend_tier)

    def trend_tier_bench():
        pts = Q._len_points(spark, sf_dir)
        tier = trend_tier(pts, HOUR_MS)
        stats["trend_1d_buckets"] = trend_estimates(
            cascade_trend_tier(tier, HOUR_MS, DAY_MS)).count()

    run("trend_tier_1h_1d", trend_tier_bench)

    from gorilla_tsc_spark.operators.rollup import rollup_points
    from gorilla_tsc_spark.operators.smoothing import ewma_serve

    def ewma_bench():
        t1h = rollup_points(Q._len_points(spark, sf_dir), HOUR_MS,
                            F.col("v"), keys=("conv_id",))
        stats["ewma_rows"] = ewma_serve(t1h, "vsum", 6 * HOUR_MS).count()

    run("ewma_serve_1h", ewma_bench)

    from gorilla_tsc_spark.operators.smoothing import holt_serve

    def holt_bench():
        t1h = rollup_points(Q._len_points(spark, sf_dir), HOUR_MS,
                            F.col("v"), keys=("conv_id",))
        stats["holt_rows"] = holt_serve(t1h, "vsum", 6 * HOUR_MS).count()

    run("holt_serve_1h", holt_bench)

    from gorilla_tsc_spark.operators.components import keep_canonical
    from gorilla_tsc_spark.operators.dedup import lsh_pairs
    from gorilla_tsc_spark.operators.decontaminate import decontaminate

    def decontaminate_bench():
        docs = Q._docs(spark, sf_dir)
        # the eval side is tiny by contract (a benchmark suite); stand
        # in with a handful of corpus texts so hits exist
        ev = spark.createDataFrame(
            [(r["text"],) for r in docs.limit(5).collect()], ["text"])
        stats["decontaminated_kept"] = decontaminate(docs, ev).count()

    run("decontaminate", decontaminate_bench)

    # pairs are a materialized intermediate at warehouse scale (and the
    # LSH cost is already measured by dedup_minhash_lsh), so time the
    # component resolution itself against a pinned pair set
    docs_b = Q._docs(spark, sf_dir)
    pairs_b = lsh_pairs(docs_b).localCheckpoint()

    def dup_components_bench():
        stats["canonical_docs"] = keep_canonical(docs_b, pairs_b).count()

    run("dup_components_canonical", dup_components_bench)

    from gorilla_tsc_spark.operators.counters import anomaly_zscore
    from gorilla_tsc_spark.operators.rangejoin import range_join
    from gorilla_tsc_spark.operators.rollup import (HOUR_MS, MINUTE_MS,
                                                    rollup_points)

    t_pts = Q._len_points(spark, sf_dir).localCheckpoint()
    t1h_b = rollup_points(t_pts, HOUR_MS, F.col("v"),
                          keys=("conv_id",)).localCheckpoint()

    def anomaly_bench():
        stats["anomalies"] = (anomaly_zscore(t1h_b, HOUR_MS, "vsum")
                              .where("anomaly").count())

    run("anomaly_zscore_1h", anomaly_bench)

    def range_join_bench():
        # annotate raw points with their hour-tier interval
        iv = t1h_b.select("conv_id", F.col("bucket").alias("start_ms"),
                          (F.col("bucket") + HOUR_MS).alias("end_ms"))
        stats["range_joined"] = range_join(t_pts, iv, HOUR_MS).count()

    run("range_join_points_to_hours", range_join_bench)

    from gorilla_tsc_spark.operators.downsample import m4

    t1m_b = rollup_points(t_pts, MINUTE_MS, F.col("v"),
                          keys=("conv_id",)).localCheckpoint()

    def m4_bench():
        pts_m4 = t1m_b.select(F.col("conv_id").alias("series"),
                              F.col("bucket").alias("t"),
                              F.col("vsum").alias("v"))
        stats["m4_rows"] = m4(pts_m4, HOUR_MS).count()

    run("m4_downsample", m4_bench)

    # keys are pinned to the r3 names and bound straight to the query
    # functions (NOT the registry, whose r4 consolidation merged some
    # entries) so the vs-prev-round ratio map stays like-for-like.
    # textstats_all gained the pii columns in r4 (documented delta).
    # rollup_1m: the registry gate routes through refresh_tier (r5, to
    # driver-oracle the numeric refresh algebra); the bench keeps
    # timing the PRODUCTION plain build so the ratio map stays
    # like-for-like with r3/r4 records
    def _bench_rollup_1m(spark_, sf_dir_):
        return rollup_points(Q._len_points(spark_, sf_dir_), MINUTE_MS,
                             F.col("v"), keys=("conv_id",))

    bench_queries = {
        "rollup_1m": _bench_rollup_1m,
        "rollup_cascade": Q.q_rollup_cascade,
        "rollup_1d_from_blocks": Q.q_rollup_1d_from_blocks,
        "rollup_1d_from_auto_blocks": Q.q_rollup_1d_from_auto_blocks,
        "rollup_from_decoded": Q.q_rollup_from_decoded,
        "codec_roundtrip_2ch": Q.q_codec_roundtrip_2ch,
        "skew_salted_rollup": Q.q_skew_salted_rollup,
        "gapfill_1h_multi": Q.q_gapfill_1h_multi,
        "retention_tiers": Q.q_retention_tiers,
        "asof_tier": Q.q_asof_tier,
        "sessionize": Q.q_sessionize,
        "pricing_summary": Q.q_pricing_summary,
        "top_orders": Q.q_top_orders,
        "events_top3": Q.q_events_top3,
        "dedup_exact": Q.q_dedup_exact,
        "dedup_ngram_jaccard": Q.q_dedup_jaccard,
        "dedup_minhash_lsh": Q.q_dedup_lsh,
        "simhash": Q.q_simhash,
        "ann_cosine_topk": Q.q_ann_cosine,
        "ann_lsh_topk": Q.q_ann_lsh,
        "ann_ivf_topk": Q.q_ann_ivf,
        "embedding_dup_pairs": Q.q_embedding_dups,
        "textstats_all": Q.q_textstats_all,
        "pii_scan": Q.q_pii_scan,
        "pack_bins": Q.q_pack_bins,
        "curation_funnel": Q.q_curation_funnel,
        "multimodal_features": Q.q_multimodal_features,
    }
    for name, qfn in bench_queries.items():
        run(name, lambda fn=qfn: fn(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    enc_sec = timings["encode_rollup"]
    here = os.path.dirname(os.path.abspath(__file__))
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(here, "BENCH", f"DETAIL_{cores}c_{stamp}.json"))

    # prior-round timings (recovered/maintained in BENCH/PREV.json) →
    # like-for-like ratio map; keys are stable from r4 on
    prev_q: dict[str, float] = {}
    try:
        with open(os.path.join(here, "BENCH", "PREV.json")) as fh:
            prev_q = json.load(fh).get("queries", {})
    except (OSError, ValueError):
        pass
    vs_prev = {k: round(v / prev_q[k], 2)
             for k, v in timings.items()
             if k in prev_q and prev_q[k] > 0}

    detail = {
        "metric": "gorilla encode+rollup + engine query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None,
        "n_turns": n_turns,
        "encode_turns_per_sec": round(n_turns / enc_sec, 1) if enc_sec else None,
        "encode_points_per_sec": round(int(stats["points"]) / enc_sec, 1) if enc_sec else None,
        "bytes_per_point": round(int(stats["payload_bytes"]) / int(stats["points"]), 3),
        "bits_per_point_by_channel": stats["chan"],
        "bytes_per_point_span_auto": round(
            stats["auto_bytes"] / stats["auto_points"], 3),
        "n_blocks": int(stats["blocks"]),
        "compaction": {"blocks_in": int(stats["small_blocks"]),
                       "blocks_out": int(stats["compacted_blocks"])},
        "backfill": {"store_blocks": int(stats["backfill_store_blocks"]),
                     "late_rows": int(stats["backfill_late_rows"]),
                     "out_blocks": int(stats["backfill_out_blocks"])},
        "audit": stats["audit"],
        "serve": {"range_points": int(stats["range_points"]),
                  "value_scan_points": int(stats["value_scan_points"]),
                  "post_purge_blocks": int(stats["post_purge_blocks"]),
                  "hll_30d_buckets": int(stats["hll_30d_buckets"]),
                  "corr_1d_buckets": int(stats["corr_1d_buckets"]),
                  "twa_1d_buckets": int(stats["twa_1d_buckets"]),
                  "hb_1d_buckets": int(stats["hb_1d_buckets"]),
                  "ewma_rows": int(stats["ewma_rows"]),
                  "topk_30d_rows": int(stats["topk_30d_rows"]),
                  "decontaminated_kept": int(stats["decontaminated_kept"]),
                  "canonical_docs": int(stats["canonical_docs"])},
        "cores": cores,
        "bench_reps": reps,
        "noise_spread": spreads,
        "vs_prev": vs_prev,
        "host_probe": _host_probe(),
    }
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as e:
        print(f"warning: could not write detail file {detail_path}: {e}",
              file=sys.stderr)

    core = {
        "metric": detail["metric"],
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": detail["sf"],
        "n_turns": n_turns,
        "encode_turns_per_sec": detail["encode_turns_per_sec"],
        "bytes_per_point": detail["bytes_per_point"],
        "bytes_per_point_span_auto": detail["bytes_per_point_span_auto"],
        "cores": cores,
        "bench_reps": reps,
        "vs_prev": vs_prev,
        "detail": os.path.relpath(detail_path, here),
    }
    # hard budget: the driver's tail capture is ~2000 bytes and parses
    # only the final line — drop fields (never truncate) until it fits
    for drop in ("vs_prev", "queries", "n_turns"):
        if len(json.dumps(core)) <= 1900:
            break
        core.pop(drop, None)

    spark.stop()
    print(json.dumps(core))


if __name__ == "__main__":
    main()
