"""spark-submit entry point building the tier families from a
block-store warehouse: cross-channel correlation, time-weighted
average, heartbeat/uptime, (optionally) counter rate, (optionally)
a fixed-bin histogram, (optionally) state-duration, (optionally)
an OHLCV candle, (optionally) a lag-1 autocorrelation tier,
(optionally) an exponential histogram, and (optionally) a linear-trend
tier — each at a fine grain plus one cascaded coarse grain, written as
parquet tier tables under --out.

Decode happens ONCE (all families share the exploded points),
optionally narrowed to the channels actually used; every downstream
step is tier-sized.  Prints one JSON line of per-tier row counters.

Usage (cluster):
    spark-submit --py-files engine.zip jobs/tiers_job.py \\
        --warehouse s3://lake/gorilla --out s3://lake/gorilla_tiers \\
        [--x-channel len --y-channel words] [--twa-channel len] \\
        [--rate-channel bytes_total] \\
        [--hist-band 24:4:16]  # lo:width:nbins over the twa channel \\
        [--state-channel phase --nstates 4] \\
        [--candle-channel len [--candle-vol-channel words]] \\
        [--autocorr-channel len] [--exphist-nbins 12] \\
        [--trend-channel len] [--smooth-halflife-ms 21600000] \\
        [--hb-ms 300000] [--bucket-ms 3600000] [--coarse-ms 86400000]

Usage (sandbox):
    python jobs/tiers_job.py --warehouse /tmp/wh --out /tmp/tiers
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
    ap.add_argument("--out", required=True)
    ap.add_argument("--x-channel", default="len")
    ap.add_argument("--y-channel", default="words")
    ap.add_argument("--twa-channel", default="len")
    ap.add_argument("--rate-channel", default=None,
                    help="counter channel for the rate tier; omitted "
                         "= skip the rate family (gauges don't have a "
                         "natural counter)")
    ap.add_argument("--hist-band", default=None,
                    help="lo:width:nbins — value band for the fixed-bin "
                         "histogram tier over the twa channel; omitted "
                         "= skip the histogram family")
    ap.add_argument("--state-channel", default=None,
                    help="channel carrying small integer state codes "
                         "in [0, nstates); omitted = skip the "
                         "state-duration family")
    ap.add_argument("--nstates", type=int, default=None,
                    help="declared state-domain size for "
                         "--state-channel")
    ap.add_argument("--candle-channel", default=None,
                    help="price channel for the OHLCV candle tier; "
                         "omitted = skip the candle family")
    ap.add_argument("--candle-vol-channel", default=None,
                    help="optional volume channel riding along the "
                         "candle tier (adds vol/pvsum → exact VWAP)")
    ap.add_argument("--autocorr-channel", default=None,
                    help="channel for the lag-1 autocorrelation tier; "
                         "omitted = skip the autocorr family")
    ap.add_argument("--trend-channel", default=None,
                    help="gauge channel for the linear-trend (OLS "
                         "drift) tier; omitted = skip the trend family")
    ap.add_argument("--smooth-halflife-ms", type=int, default=None,
                    help="half-life for an EWMA+Holt smoothed serve "
                         "table over the twa channel's fine rollup; "
                         "omitted = skip the smoothing serve")
    ap.add_argument("--exphist-nbins", type=int, default=None,
                    help="power-of-two bucket count for the exponential "
                         "histogram over the twa channel (band "
                         "[1, 2^nbins)); omitted = skip the family")
    ap.add_argument("--hb-ms", type=int, default=5 * 60_000)
    ap.add_argument("--bucket-ms", type=int, default=3_600_000)
    ap.add_argument("--coarse-ms", type=int, default=86_400_000)
    ap.add_argument("--predictor", default=None,
                    help="store's encode-time predictor; must match")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()
    if args.x_channel == args.y_channel:
        ap.error("--x-channel and --y-channel must differ (the corr "
                 "tier pivots both out of one channel column; equal "
                 "names would yield an ambiguous duplicate column)")
    if args.candle_vol_channel and not args.candle_channel:
        ap.error("--candle-vol-channel requires --candle-channel")
    if bool(args.state_channel) != bool(args.nstates):
        ap.error("--state-channel and --nstates go together (the state "
                 "domain is a declaration, not something to infer)")
    if args.nstates is not None and args.nstates <= 0:
        ap.error("--nstates must be positive")
    hist_band = None
    if args.hist_band:
        try:
            lo_s, w_s, nb_s = args.hist_band.split(":")
            hist_band = (float(lo_s), float(w_s), int(nb_s))
            if hist_band[1] <= 0 or hist_band[2] <= 0:
                raise ValueError
        except ValueError:
            ap.error("--hist-band must be lo:width:nbins with width > 0 "
                     "and nbins > 0 (e.g. 24:4:16)")

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from gorilla_tsc_spark.operators.autocorr import (autocorr_tier,
                                                      cascade_autocorr_tier)
    from gorilla_tsc_spark.operators.candle import (candle_tier,
                                                    cascade_candle_tier)
    from gorilla_tsc_spark.operators.correlate import (cascade_corr_tier,
                                                       corr_tier)
    from gorilla_tsc_spark.operators.encode import (block_value_column,
                                                    decode_blocks)
    from gorilla_tsc_spark.operators.exphist import (cascade_exphist_tier,
                                                     exphist_tier)
    from gorilla_tsc_spark.operators.heartbeat import (
        cascade_heartbeat_tier, heartbeat_tier)
    from gorilla_tsc_spark.operators.histogram import (cascade_hist_tier,
                                                       histogram_tier)
    from gorilla_tsc_spark.operators.rate import cascade_rate_tier, rate_tier
    from gorilla_tsc_spark.operators.rollup import rollup_points
    from gorilla_tsc_spark.operators.smoothing import ewma_serve, holt_serve
    from gorilla_tsc_spark.operators.statetier import (cascade_state_tier,
                                                       state_tier)
    from gorilla_tsc_spark.operators.timeweight import (cascade_twa_tier,
                                                        twa_tier)
    from gorilla_tsc_spark.operators.trend import (cascade_trend_tier,
                                                   trend_tier)
    from gorilla_tsc_spark.pipeline import read_blocks
    from gorilla_tsc_spark.session import get_spark

    spark = get_spark("tiers-job", cores=args.cores)
    chans = {args.x_channel, args.y_channel, args.twa_channel,
             args.rate_channel, args.state_channel, args.candle_channel,
             args.candle_vol_channel, args.autocorr_channel,
             args.trend_channel} - {None}
    blocks = read_blocks(spark, args.warehouse).where(
        F.col("channel").isin(*chans))
    pts = (decode_blocks(blocks, args.predictor)
           .select("conv_id", "channel", "ts_ms",
                   block_value_column().alias("v"))
           .persist())

    counters: dict[str, int] = {"points_decoded": pts.count()}

    def write(name: str, df) -> str:
        """Write one tier table, counting its rows during the write."""
        path = os.path.join(args.out, name)
        rows = Observation(name)
        (df.observe(rows, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(path))
        counters[name] = rows.get["n"]
        return path

    def chan(name: str):
        return pts.where(F.col("channel") == name)

    b, c = args.bucket_ms, args.coarse_ms
    # correlation: pivot the two channels to per-turn (x, y) pairs.
    # max() (not first()) keeps the pairing deterministic if two turns
    # ever share (conv_id, ts_ms) — first() is partition-order-dependent
    xy = (pts.where(F.col("channel").isin(args.x_channel, args.y_channel))
          .groupBy("conv_id", "ts_ms").pivot(
              "channel", [args.x_channel, args.y_channel]).agg(F.max("v"))
          .select("conv_id", "ts_ms",
                  F.col(args.x_channel).alias("x"),
                  F.col(args.y_channel).alias("y")))
    twa_pts = chan(args.twa_channel)
    # (name, fine tier, cascade of the written fine table or None).
    # Heartbeat reads the twa channel's turn timestamps (any channel's
    # points carry every turn's ts); the histograms bin the twa channel
    # over a declared band (an operator decision, not inferred); the
    # smoothed serve is order-dependent, so it has no cascade.
    families = [
        ("corr", corr_tier(xy, b), lambda t: cascade_corr_tier(t, b, c)),
        ("twa", twa_tier(twa_pts, b), lambda t: cascade_twa_tier(t, b, c)),
        ("hb", heartbeat_tier(twa_pts.select("conv_id", "ts_ms"), b,
                              args.hb_ms),
         lambda t: cascade_heartbeat_tier(t, b, c, args.hb_ms)),
    ]
    if args.rate_channel:
        families.append(("rate", rate_tier(chan(args.rate_channel), b),
                         lambda t: cascade_rate_tier(t, b, c)))
    if hist_band:
        nb = hist_band[2]
        families.append(("hist", histogram_tier(twa_pts, b, *hist_band),
                         lambda t: cascade_hist_tier(t, b, c, nb)))
    if args.state_channel:
        spts = chan(args.state_channel).select(
            "conv_id", "ts_ms", F.col("v").cast("int").alias("s"))
        families.append(("state", state_tier(spts, b, args.nstates),
                         lambda t: cascade_state_tier(t, b, c,
                                                      args.nstates)))
    if args.candle_channel:
        cpts, vol_col = chan(args.candle_channel), None
        if args.candle_vol_channel:
            volp = chan(args.candle_vol_channel).select(
                "conv_id", "ts_ms", F.col("v").alias("vol"))
            cpts = (cpts.select("conv_id", "ts_ms", "v")
                    .join(volp, ["conv_id", "ts_ms"], "left"))
            vol_col = "vol"
        families.append(("candle", candle_tier(cpts, b, vol_col=vol_col),
                         lambda t: cascade_candle_tier(t, b, c)))
    if args.exphist_nbins:
        nx = args.exphist_nbins
        families.append(("exphist", exphist_tier(twa_pts, b, nx),
                         lambda t: cascade_exphist_tier(t, b, c, nx)))
    if args.autocorr_channel:
        families.append(("autocorr",
                         autocorr_tier(chan(args.autocorr_channel), b),
                         lambda t: cascade_autocorr_tier(t, b, c)))
    if args.smooth_halflife_ms:
        hl = args.smooth_halflife_ms
        smooth = holt_serve(
            ewma_serve(rollup_points(twa_pts, b, F.col("v")), "vsum", hl,
                       var_col="ewma_var"), "vsum", hl)
        families.append(("smooth", smooth, None))
    if args.trend_channel:
        families.append(("trend", trend_tier(chan(args.trend_channel), b),
                         lambda t: cascade_trend_tier(t, b, c)))

    # one fine → coarse step per family; the cascade reads the written
    # fine table, so the coarse tier never recomputes the fine build
    for name, fine, cascade in families:
        fine_path = write(f"{name}_fine", fine)
        if cascade is not None:
            write(f"{name}_coarse", cascade(spark.read.parquet(fine_path)))

    pts.unpersist()
    print(json.dumps(counters))
    spark.stop()


if __name__ == "__main__":
    main()
