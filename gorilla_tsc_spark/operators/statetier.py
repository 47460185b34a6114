"""State-duration tier: the eleventh mergeable summary family.

"How long did each state hold per bucket?" — conversations carry a
small categorical channel (here the turn `role`: who holds the floor),
fleet telemetry carries job phases, circuit states, health enums.  The
classic serve is time-in-state under LOCF semantics (TimescaleDB's
`state_agg`/`timeline_agg` — public docs; no code consulted): a state
holds from its sample until the next sample.

The per-bucket summary is EXACTLY mergeable, so the family lives the
same tier lifecycle as the other families:

    (n, first_ts, first_s, last_ts, last_s, durs[k], trans)

where `durs[i]` = Σ (ts_{j+1} − ts_j) over consecutive in-bucket point
pairs whose EARLIER point is in state i — the step-function integral of
the indicator of state i, the state_agg analogue of `twa_tier.wsum` —
and `trans` counts the in-bucket pairs whose state CHANGED (the
state_agg transition counter; zero-duration flips on tied timestamps
count, deterministically, because the tie order is pinned).
Merging order-adjacent summaries is an element-wise vector sum plus one
LOCF seam bridge per boundary: the earlier summary's `last_s` holds
across the seam, so `durs[last_s_left] += first_ts_right − last_ts_left`
(`operators/timeweight.py`'s bridge, attributed to an array slot), and
the seam adds one transition iff `first_s_right != last_s_left`.  The
invariant Σ durs = last_ts − first_ts survives every merge.

Ties on ts_ms break by state index, so the step function (and hence
first/last/durs) is deterministic regardless of input order — the
(ts, v) rule every order-dependent family here uses.

Scale shape (identical to the time-weight family): build = one `lead()`
window partitioned by series + one groupBy that reuses the window's
hash partitioning; cascade = the same two steps over tier rows; refresh
rebuilds ONLY late-touched buckets (a late sample splits a LOCF
segment, so it's the invalidation-rebuild family, not the delta-sum
family).  All arithmetic is integer milliseconds — IEEE-exact on any
engine, in any order.  Whole-stage codegen end to end; the per-state
sums unroll over the declared (small) state domain like the histogram
family's bins, never over data.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .rollup import bucket_col, rebuild_touched

SUMMARY_COLS = ("n", "first_ts", "first_s", "last_ts", "last_s", "durs",
                "trans")


def state_tier(points: DataFrame, bucket_ms: int, nstates: int,
               state_col: str = "s", keys=("conv_id",)) -> DataFrame:
    """Build the fine-grain state-duration tier from (ts_ms, s) points,
    s ∈ [0, nstates) the index into the declared state domain."""
    s = F.col(state_col).cast("int")
    pts = (points.where(s.isNotNull())
           .select(*keys, F.col("ts_ms").cast("long").alias("ts_ms"),
                   s.alias("s")))
    w = Window.partitionBy(*keys).orderBy("ts_ms", "s")
    bkt = bucket_col(F.col("ts_ms"), bucket_ms)
    next_ts = F.lead("ts_ms").over(w)
    next_s = F.lead("s").over(w)
    in_bucket = bucket_col(next_ts, bucket_ms) == bkt
    staged = (pts.withColumn(
        "hold",
        F.when(in_bucket, next_ts - F.col("ts_ms"))
         .otherwise(F.lit(0)).cast("long"))
        .withColumn(
        "flip",
        F.when(in_bucket & (next_s != F.col("s")), F.lit(1))
         .otherwise(F.lit(0)).cast("long")))
    order = F.struct("ts_ms", "s")
    return (staged.groupBy(*keys, bkt.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("ts_ms").alias("first_ts"),
                 F.min_by("s", order).alias("first_s"),
                 F.max("ts_ms").alias("last_ts"),
                 F.max_by("s", order).alias("last_s"),
                 F.array(*[
                     F.sum(F.when(F.col("s") == i, F.col("hold"))
                           .otherwise(F.lit(0))).cast("long")
                     for i in range(nstates)]).alias("durs"),
                 F.sum("flip").cast("long").alias("trans")))


def cascade_state_tier(tier: DataFrame, from_ms: int, to_ms: int,
                       nstates: int, keys=("conv_id",)) -> DataFrame:
    """Merge a finer state tier into a coarser one — exact: element-wise
    duration sums plus one LOCF seam bridge per pair of order-adjacent
    fine buckets sharing a coarse bucket, attributed to the earlier
    bucket's last state."""
    assert to_ms % from_ms == 0, "coarser tier must align"
    w = Window.partitionBy(*keys).orderBy("bucket")
    coarse = bucket_col(F.col("bucket"), to_ms)
    seam = bucket_col(F.lead("bucket").over(w), to_ms) == coarse
    gap = F.lead("first_ts").over(w) - F.col("last_ts")
    seam_flip = seam & (F.lead("first_s").over(w) != F.col("last_s"))
    staged = (tier.withColumn(
        "bridge", F.when(seam, gap).otherwise(F.lit(0)).cast("long"))
        .withColumn(
        "seam_trans", F.when(seam_flip, F.lit(1))
                       .otherwise(F.lit(0)).cast("long")))
    return (staged.groupBy(*keys, coarse.alias("bucket"))
            .agg(F.sum("n").alias("n"),
                 F.min("first_ts").alias("first_ts"),
                 F.min_by("first_s", "bucket").alias("first_s"),
                 F.max("last_ts").alias("last_ts"),
                 F.max_by("last_s", "bucket").alias("last_s"),
                 F.array(*[
                     F.sum(F.col("durs")[i]
                           + F.when(F.col("last_s") == i, F.col("bridge"))
                              .otherwise(F.lit(0))).cast("long")
                     for i in range(nstates)]).alias("durs"),
                 (F.sum("trans") + F.sum("seam_trans")).cast("long")
                 .alias("trans")))


def refresh_state_tier(tier: DataFrame, late_points: DataFrame,
                       points: DataFrame, bucket_ms: int, nstates: int,
                       state_col: str = "s", keys=("conv_id",)) -> DataFrame:
    """Fold a late batch in at cost ∝ the buckets it touches.

    A late point INTERLEAVES with a bucket's step function (it splits a
    LOCF segment and can change which state held an interval), so
    touched buckets are rebuilt from raw points — the continuous-
    aggregate invalidation rule, exactly `refresh_twa_tier`'s shape."""
    return rebuild_touched(
        tier, late_points, points, bucket_ms, ("ts_ms", state_col),
        lambda raw: state_tier(raw, bucket_ms, nstates, state_col, keys),
        SUMMARY_COLS, keys)


def merge_state_series(tier: DataFrame, nstates: int,
                       keys=()) -> DataFrame:
    """Cross-series merge: sum held time over ALL series per bucket (or
    per any coarser key set) — fleet-wide time-in-state from per-series
    tiers without revisiting raw data (the `sum by (state)` shape,
    `merge_hist_series`' analogue).  Only the additive components
    survive: per-series step functions don't concatenate ACROSS series,
    so there is no cross-series seam bridge and no fleet first/last
    state — by design, exactly like fleet histograms dropping
    open/close semantics."""
    return (tier.groupBy(*keys, "bucket")
            .agg(F.sum("n").alias("n"),
                 F.count(F.lit(1)).alias("series"),
                 F.array(*[
                     F.sum(F.col("durs")[i]).cast("long")
                     for i in range(nstates)]).alias("durs"),
                 F.sum("trans").cast("long").alias("trans")))


def _dominant_idx(durs):
    """Index of the largest duration; ties → the SMALLEST index (the
    fold only replaces on strictly-greater, so the earliest max wins —
    the same rule a `>=` CASE chain over the states in order encodes)."""
    indexed = F.transform(durs, lambda d, i: F.struct(d.alias("ms"),
                                                      i.alias("i")))
    best = F.aggregate(
        indexed,
        F.struct(F.lit(-1).cast("long").alias("ms"),
                 F.lit(0).cast("int").alias("i")),
        lambda acc, x: F.when(x["ms"] > acc["ms"], x).otherwise(acc))
    return best["i"]


def state_estimates(tier: DataFrame, states) -> DataFrame:
    """Serve: per-state held milliseconds as named columns (`ms_<state>`),
    the observed span, and the dominant state.  All integers + a label —
    no float discipline needed anywhere in this family."""
    names = F.array(*[F.lit(s) for s in states])
    out = tier.withColumn(
        "duration_ms",
        (F.col("last_ts") - F.col("first_ts")).cast("long"))
    for i, s in enumerate(states):
        out = out.withColumn(f"ms_{s}", F.col("durs")[i])
    return out.withColumn(
        "dominant", F.element_at(names, _dominant_idx(F.col("durs")) + 1))


def state_interpolated_estimates(tier: DataFrame, bucket_ms: int, states,
                                 keys=("conv_id",)) -> DataFrame:
    """Serve time-in-state with LOCF extension across bucket edges
    (TimescaleDB's `interpolated_duration_in` idea — public docs): a
    bucket whose series was already live attributes its start →
    first-point interval to the PREVIOUS bucket's last state, and holds
    its own last state to its end while the series demonstrably
    continues (a later tier row exists).  Edges without a neighbor fall
    back to the observed span, so an isolated bucket serves exactly its
    plain `state_estimates` vector.  Pure lag/lead over tier rows."""
    nstates = len(states)
    w = Window.partitionBy(*keys).orderBy("bucket")
    start = F.col("bucket")
    end = F.col("bucket") + F.lit(bucket_ms)
    prev_last_s = F.lag("last_s").over(w)
    has_next = F.lead("bucket").over(w).isNotNull()
    head = F.when(prev_last_s.isNotNull(),
                  F.col("first_ts") - start).otherwise(F.lit(0))
    tail = F.when(has_next, end - F.col("last_ts")).otherwise(F.lit(0))
    lo = F.when(prev_last_s.isNotNull(), start).otherwise(F.col("first_ts"))
    hi = F.when(has_next, end).otherwise(F.col("last_ts"))
    durs_i = F.array(*[
        (F.col("durs")[i]
         + F.when(prev_last_s == i, head).otherwise(F.lit(0))
         + F.when(F.col("last_s") == i, tail).otherwise(F.lit(0)))
        .cast("long")
        for i in range(nstates)])
    names = F.array(*[F.lit(s) for s in states])
    out = (tier
           .withColumn("window_ms", (hi - lo).cast("long"))
           .withColumn("_durs_interp", durs_i))
    for i, s in enumerate(states):
        out = out.withColumn(f"ms_interp_{s}", F.col("_durs_interp")[i])
    return (out.withColumn(
        "dominant_interp",
        F.element_at(names, _dominant_idx(F.col("_durs_interp")) + 1))
        .drop("_durs_interp"))
