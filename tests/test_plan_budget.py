"""Plan-shape regression gate over the query registry.

The scale contract (docs/ARCHITECTURE.md) is enforced structurally:
no registry query may plan a CartesianProduct / BroadcastNestedLoopJoin,
and the shuffle count of the headline operators is pinned — a code
change that silently adds an exchange (or degrades a broadcast join to
a cartesian) fails here at sf0.001 cost, long before a 100 TB run
would discover it.
"""
from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

# queries whose construction REQUIRES a full pipeline run or streaming
# replay (their plan shape is covered by their own gates:
# stream_late_merge replays the two-batch ingest at construction time;
# the component plans — encode, backfill merge, decode — are pinned by
# their own entries).  sketch_bounds and value_scan also execute small
# driver-side actions during construction but stay IN scope: their
# final plans are exactly what the driver evaluates and are worth
# pinning, and the construction cost at sf0.001 is negligible.
SKIP = {"checkpoint_resume", "stream_rollup_1m", "stream_encode_roundtrip",
        "stream_late_merge"}

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def plans_count(df, token: str) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(token)

# max Exchange nodes tolerated in the PHYSICAL plan (sf0.001, AQE off
# for determinism).  These are ceilings, not targets — chosen one above
# the current count where AQE would collapse further at runtime.
EXCHANGE_BUDGET = {
    "rollup_1m": 2,
    # transcripts derivation (user_id) + encode (conv,day,seq)
    # + metadata groupBy — the derivation exchange disappears when
    # transcripts is a stored table; the registry row unions BOTH block
    # profiles (day + auto: 3 + 4 — the auto branch adds the day-subagg
    # explode's groupBy) PLUS the encode→decode→1m branch (3), so the
    # budget is three branches' worth
    "rollup_block_exact": 11,
    "codec_roundtrip_2ch": 2,
    "dedup_exact": 2,
    "asof_tier": 4,
    "sessionize": 3,
    "textstats_all": 1,
    "multimodal_features": 1,
    "frame_sample": 1,
    # derivation + day-tier groupBy; the interval/point equijoin
    # broadcasts the exploded interval side (measured 2 at sf0.001)
    "range_join_hours": 3,
    # derivation + 1m rollup + m4 groupBy
    "m4_downsample": 3,
    # derivation + 1h rollup + one series-keyed window
    "anomaly_zscore_1h": 3,
    # six family branches unioned, and the GATE deliberately routes
    # each through its late-data refresh path (deterministic on-time /
    # late split, build, refresh, cascade) so the refresh algebra is
    # driver-oracled — that harness shape adds ~3 broadcast semi/anti
    # exchanges + a rebuild per family for the invalidation-rebuild
    # families (measured 33 at sf0.001 with four).  The distributive
    # hist family costs only 2 more (build + one delta-merge; its
    # cascade and quantile serve add none); the state-duration family
    # is another invalidation-rebuild one (+8: window+groupBy for
    # build, rebuild and cascade plus the refresh's broadcast
    # semi/anti — measured 44 with six); the distributive OHLCV candle
    # adds 4 (build + delta-merge + cascade groupBys plus the gap
    # serve's one lag window over tier rows — measured 48 with seven);
    # the autocorr family is invalidation-rebuild shaped but its
    # adjacency window and groupBy share the twa branch's partitioning,
    # costing 6 more (build, rebuild, cascade + the refresh broadcast
    # pair — measured 54 with eight); the exponential histogram is
    # distributive like hist (+3: build + delta-merge + cascade
    # groupBys, quantile serve adds none — measured 57 with nine).
    # The PRODUCTION family plans (plain build + cascade) are pinned
    # separately in test_family_production_plans below.
    "tier_families_1d": 60,
    # derivation + encode (conv,day,seq) shuffle; the zone-map prune is
    # a scan-side filter, never an exchange
    "value_scan": 3,
    # derivation + 1h rollup + ONE series repartition for the
    # mapInPandas serve kernel — no point-sized shuffles beyond the tier
    "ewma_serve_1h": 3,
}


@pytest.fixture(scope="module")
def plans(spark):
    from gorilla_tsc_spark.queries import build_queries
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out = {}
    try:
        for name, fn in build_queries().items():
            if name in SKIP:
                continue
            df = fn(spark, SF)
            out[name] = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    return out


# brute-force cosine top-k IS a broadcast-nested-loop by definition:
# the tiny query set broadcasts against a linear corpus scan — the
# documented baseline whose scale path is ann_lsh_topk / ann_ivf_topk
ALLOWED_NESTED_LOOP = {"ann_topk"}


def test_no_cartesian_anywhere(plans):
    bad = {n for n, p in plans.items()
           if any(f in p for f in FORBIDDEN)
           and n not in ALLOWED_NESTED_LOOP}
    assert not bad, f"cartesian/nested-loop joins in: {sorted(bad)}"
    # and the allowed one must be the BROADCAST variant, never a
    # full CartesianProduct
    for n in ALLOWED_NESTED_LOOP:
        assert "CartesianProduct" not in plans[n], n


def test_exchange_budgets(plans):
    over = {}
    for name, budget in EXCHANGE_BUDGET.items():
        got = plans[name].count("Exchange ")
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"exchange budget exceeded (got, budget): {over}"


def test_maintenance_operator_plans(spark):
    """Plan shape of the non-registry maintenance/serve operators:
    purge joins must be BROADCAST hash joins (anti/semi — the purge
    set is tiny by contract), read_range's metadata prune must sit in
    the scan-side filter, and nothing may plan a cartesian."""
    from pyspark.sql import functions as F

    from gorilla_tsc_spark.operators.encode import encode_blocks
    from gorilla_tsc_spark.operators.purge import (
        purge_conversations,
        purge_range,
    )
    from gorilla_tsc_spark.operators.retention import read_range
    from gorilla_tsc_spark.operators.rollup import DAY_MS
    from gorilla_tsc_spark.operators.sketches import (
        distinct_sketch_tier,
        merge_sketch_tier,
    )
    from gorilla_tsc_spark.queries import _transcripts

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        blocks = encode_blocks(_transcripts(spark, SF))
        ids = spark.createDataFrame([("conv00000001",)], ["conv_id"])
        t_ms = _transcripts(spark, SF).withColumn(
            "ts_ms", F.unix_millis("ts"))
        t0 = 1_704_672_000_000
        cases = {
            "purge_conversations": purge_conversations(blocks, ids),
            "purge_range": purge_range(blocks, ids, t0, t0 + DAY_MS),
            "read_range": read_range(blocks, t0, t0 + DAY_MS,
                                     conv_ids=ids),
            "sketch_cascade": merge_sketch_tier(
                distinct_sketch_tier(t_ms, DAY_MS), DAY_MS, 30 * DAY_MS),
        }

        from gorilla_tsc_spark.operators.decontaminate import decontaminate
        from gorilla_tsc_spark.operators.sketches import (merge_topk_tier,
                                                          topk_tier)
        from gorilla_tsc_spark.queries import _docs
        docs = _docs(spark, SF)
        ev = spark.createDataFrame(
            [(r["text"],) for r in docs.limit(2).collect()], ["text"])
        cases["decontaminate"] = decontaminate(docs, ev)
        cases["topk_merge"] = merge_topk_tier(
            topk_tier(t_ms.withColumn(
                "item", F.coalesce("tool", F.lit("none"))), DAY_MS, "item"),
            DAY_MS, 30 * DAY_MS)

        for name, df in cases.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert not any(f in plan for f in FORBIDDEN), name
            if name.startswith("purge") or name == "read_range":
                assert "BroadcastHashJoin" in plan, name
                assert "SortMergeJoin" not in plan, name
        # decontaminate's joins (eval grams in, flagged ids out) must
        # both broadcast — the corpus side may never shuffle for a join
        assert plans_count(cases["decontaminate"], "BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in cases["decontaminate"] \
            ._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_family_production_plans(spark):
    """PRODUCTION plan shape of the ten tier families (plain build +
    cascade — what a cluster actually runs; the registry gate wraps
    them in the refresh harness): each family must plan at most 3
    exchanges (derivation + one series window/groupBy chain that
    reuses the conv_id hash partitioning + the cascade), with no
    cartesian anywhere."""
    from pyspark.sql import functions as F

    from gorilla_tsc_spark.operators.autocorr import (autocorr_tier,
                                                      cascade_autocorr_tier)
    from gorilla_tsc_spark.operators.exphist import (cascade_exphist_tier,
                                                     exphist_estimates,
                                                     exphist_tier)
    from gorilla_tsc_spark.operators.correlate import (cascade_corr_tier,
                                                       corr_tier)
    from gorilla_tsc_spark.operators.heartbeat import (
        cascade_heartbeat_tier, heartbeat_tier)
    from gorilla_tsc_spark.operators.histogram import (cascade_hist_tier,
                                                       hist_estimates,
                                                       histogram_tier)
    from gorilla_tsc_spark.operators.rate import cascade_rate_tier, rate_tier
    from gorilla_tsc_spark.operators.rollup import DAY_MS, HOUR_MS
    from gorilla_tsc_spark.operators.candle import (candle_tier,
                                                    cascade_candle_tier)
    from gorilla_tsc_spark.operators.statetier import (cascade_state_tier,
                                                       state_tier)
    from gorilla_tsc_spark.operators.timeweight import (cascade_twa_tier,
                                                        twa_tier)
    from gorilla_tsc_spark.operators.trend import (cascade_trend_tier,
                                                   trend_estimates,
                                                   trend_tier)
    from gorilla_tsc_spark.queries import (_len_points, _transcripts,
                                           synth_counter)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t = _transcripts(spark, SF)
        xy = t.select("conv_id", F.unix_millis("ts").alias("ts_ms"),
                      F.length("text").cast("double").alias("x"),
                      F.size(F.split("text", r"\s+")).cast("double")
                      .alias("y"))
        pts = _len_points(spark, SF)
        ctr = synth_counter(pts)
        hb = 5 * 60_000
        cases = {
            "corr": cascade_corr_tier(corr_tier(xy, HOUR_MS),
                                      HOUR_MS, DAY_MS),
            "twa": cascade_twa_tier(twa_tier(pts, HOUR_MS),
                                    HOUR_MS, DAY_MS),
            "heartbeat": cascade_heartbeat_tier(
                heartbeat_tier(pts.select("conv_id", "ts_ms"), HOUR_MS, hb),
                HOUR_MS, DAY_MS, hb),
            "rate": cascade_rate_tier(rate_tier(ctr, HOUR_MS),
                                      HOUR_MS, DAY_MS),
            "hist": hist_estimates(
                cascade_hist_tier(histogram_tier(pts, HOUR_MS, 24.0,
                                                 4.0, 16),
                                  HOUR_MS, DAY_MS, 16), 24.0, 4.0, 16),
            "state": cascade_state_tier(
                state_tier(t.select(
                    "conv_id", F.unix_millis("ts").alias("ts_ms"),
                    F.when(F.col("role") == "user", 0)
                     .when(F.col("role") == "assistant", 1)
                     .otherwise(2).cast("int").alias("s")), HOUR_MS, 3),
                HOUR_MS, DAY_MS, 3),
            "candle": cascade_candle_tier(candle_tier(pts, HOUR_MS),
                                          HOUR_MS, DAY_MS),
            "autocorr": cascade_autocorr_tier(autocorr_tier(pts, HOUR_MS),
                                              HOUR_MS, DAY_MS),
            "exphist": exphist_estimates(
                cascade_exphist_tier(exphist_tier(pts, HOUR_MS, 9),
                                     HOUR_MS, DAY_MS, 9), 9),
            "trend": trend_estimates(
                cascade_trend_tier(trend_tier(pts, HOUR_MS),
                                   HOUR_MS, DAY_MS)),
        }
        for name, df in cases.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert not any(f in plan for f in FORBIDDEN), name
            got = plan.count("Exchange ")
            assert got <= 3, (name, got)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_job_read_paths_scan_only(spark, small_store):
    """Plan shape of the job read paths over a pipeline-written
    warehouse: the audit and the serve read are plain scans of the
    block store (no hash exchange; the serve read's conv-id broadcast
    is allowed), and compaction shuffles exactly once, keyed
    (conv_id, channel)."""
    import re

    from gorilla_tsc_spark.operators.audit import audit_blocks
    from gorilla_tsc_spark.operators.compact import compact_blocks
    from gorilla_tsc_spark.operators.retention import read_range
    from gorilla_tsc_spark.operators.rollup import DAY_MS
    from gorilla_tsc_spark.pipeline import read_blocks

    wh = small_store

    def hash_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        blocks = read_blocks(spark, wh)
        ids = spark.createDataFrame([("conv00000001",)], ["conv_id"])
        t0 = 1_704_672_000_000
        got = {name: hash_exchanges(df) for name, df in (
            ("audit", audit_blocks(blocks)),
            ("read_range", read_range(blocks, t0, t0 + DAY_MS, conv_ids=ids)),
            ("compact", compact_blocks(blocks)))}
        assert {name: len(keys) for name, keys in got.items()} == {
            "audit": 0, "read_range": 0, "compact": 1}, got
        assert re.fullmatch(r"conv_id#\d+, channel#\d+, \d+",
                            got["compact"][0]), got
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_registry_exactly_50_all_oracled():
    """The driver records at most 50 registry entries; every slot must
    be used and every entry must carry an oracle (the consolidation
    contract that keeps the whole surface driver-gated)."""
    from gorilla_tsc_spark.queries import build_oracle_sql, build_queries
    q, o = build_queries(), build_oracle_sql()
    assert len(q) == 50, len(q)
    assert set(q) == set(o), (sorted(set(q) - set(o)),
                              sorted(set(o) - set(q)))


# -- no Python task without data ---------------------------------------------
# A frame built from a Python list plans an RDD scan (LogicalRDD /
# ExistingRDD) whose every action runs one Python task per core, and an
# undeclared parquet read runs a footer-inference job.  The engine pays
# neither on the tables and lineage frames it builds itself.

RDD_SCAN = ("LogicalRDD", "ExistingRDD")


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def small_store(spark, tmp_path_factory):
    from gorilla_tsc_spark.functions.channels import default_channels
    from gorilla_tsc_spark.pipeline import run_pipeline
    from gorilla_tsc_spark.queries import _transcripts

    wh = str(tmp_path_factory.mktemp("local_wh"))
    run_pipeline(spark, _transcripts(spark, SF).limit(2_000), wh,
                 channels=default_channels()[:2])
    return wh


def test_fresh_checkpoint_log_builds_local_frames(spark, tmp_path,
                                                  monkeypatch):
    """On a fresh warehouse the empty log and the ``log_rows`` frame are
    local relations, and ``pending`` joins nothing."""
    from gorilla_tsc_spark.operators.checkpoint import CheckpointLog

    log = CheckpointLog(spark, str(tmp_path))
    empty = log.read()
    assert empty.count() == 0
    assert not any(t in _optimized(empty) for t in RDD_SCAN), _optimized(empty)
    work = spark.range(3).selectExpr("cast(id AS string) AS part_key")
    assert "Join" not in _optimized(log.pending(work, "encode"))

    built = []
    frame = CheckpointLog._frame

    def spy(self, rows):
        built.append(frame(self, rows))
        return built[-1]

    monkeypatch.setattr(CheckpointLog, "_frame", spy)
    log.log_rows([{"stage": "rollup", "part_key": t} for t in ("1m", "1h")])
    assert len(built) == 1
    assert not any(t in _optimized(built[0]) for t in RDD_SCAN), \
        _optimized(built[0])
    rows = sorted((r.stage, r.part_key, r.status, r.n_points, r.run_id)
                  for r in log.read().collect())
    assert rows == [("rollup", t, "ok", 0, log.run_id) for t in ("1h", "1m")]


def test_read_blocks_starts_no_job(spark, small_store):
    """Building the block-store read declares its schema: no
    footer-inference job runs before an action."""
    from gorilla_tsc_spark.operators.checkpoint import CheckpointLog
    from gorilla_tsc_spark.pipeline import read_blocks

    sc = spark.sparkContext
    sc.setJobGroup("plan_budget_read_blocks", "read_blocks builds no job")
    try:
        blocks = read_blocks(spark, small_store)
        lineage = CheckpointLog(spark, small_store).read()
        jobs = list(sc.statusTracker().getJobIdsForGroup(
            "plan_budget_read_blocks"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], jobs
    assert blocks.count() > 0 and lineage.count() > 0


def test_compact_shuffle_is_sized_by_aqe(spark, small_store):
    """With AQE on, compaction's (conv_id, channel) shuffle is coalesced
    to the size of the store, not run at spark.sql.shuffle.partitions."""
    from gorilla_tsc_spark.operators.compact import compact_blocks
    from gorilla_tsc_spark.pipeline import read_blocks

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    compacted = compact_blocks(read_blocks(spark, small_store))
    assert len(compacted.collect()) > 0
    final = compacted._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert "AQEShuffleRead coalesced" in final, final


# -- a kernel's Arrow input carries only the columns it reads -----------------
# Spark checks the Arrow batch size after every row it writes, and on a
# list column that is NULL in every row (the day_* lists of day-aligned
# blocks) each check re-walks all offsets written so far: O(rows^2) per
# batch (docs/ARCHITECTURE.md, "The Arrow boundary is the scarce resource").

COMPACT_KERNEL_INPUT = ["conv_id", "channel", "kind", "seq", "n_points",
                        "payload"]


def _kernel_inputs(df) -> list[list[str]]:
    """Input column names of every Python kernel node in the optimized
    plan, outermost first."""
    found = []

    def walk(node):
        if any(t in node.nodeName() for t in ("Pandas", "Arrow", "Python")):
            attrs = node.child().output()
            found.append([attrs.apply(i).name() for i in range(attrs.size())])
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


def test_kernels_take_only_the_columns_they_read(spark, small_store):
    """Compaction (plain, range purge, last-write-wins backfill) ships
    exactly the six columns its kernel reads, and no job path over the
    block store hands a ``day_*`` list column to any Python kernel."""
    import pandas as pd

    from gorilla_tsc_spark.operators.audit import audit_blocks
    from gorilla_tsc_spark.operators.compact import compact_blocks
    from gorilla_tsc_spark.operators.encode import decode_blocks
    from gorilla_tsc_spark.operators.retention import read_range
    from gorilla_tsc_spark.operators.rollup import DAY_MS
    from gorilla_tsc_spark.pipeline import read_blocks

    blocks = read_blocks(spark, small_store)
    t0 = 1_704_672_000_000
    for compacted in (compact_blocks(blocks),
                      compact_blocks(blocks, drop_range=(t0, t0 + DAY_MS)),
                      compact_blocks(blocks, lww_late_seq=1 << 30)):
        assert _kernel_inputs(compacted) == [COMPACT_KERNEL_INPUT]

    ids = spark.createDataFrame(pd.DataFrame({"conv_id": ["conv00000001"]}))
    for name, df in (
            ("compact", compact_blocks(blocks)),
            ("audit", audit_blocks(blocks)),
            ("read_range", read_range(blocks, t0, t0 + DAY_MS, conv_ids=ids)),
            ("decode", decode_blocks(blocks))):
        inputs = _kernel_inputs(df)
        assert inputs, name
        assert not [c for cols in inputs for c in cols
                    if c.startswith("day_")], (name, inputs)
