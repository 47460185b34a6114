"""Structured Streaming wrappers: streaming rollup tiers with
watermarked late-data handling, and a stateful streaming Gorilla
encoder."""
from .rollup_stream import (stream_distinct_sketch_1m,
                            stream_item_counts_1m, stream_rollup_1m)
from .encode_stream import stream_encode_blocks
from .family_streams import (stream_autocorr_tier, stream_candle_tier,
                             stream_corr_tier, stream_exphist_tier,
                             stream_heartbeat_tier, stream_hist_tier,
                             stream_rate_tier, stream_state_tier,
                             stream_trend_tier, stream_twa_tier)
from .late_path import (make_ingest_batch_fn, merge_late_staging,
                        split_by_frontier)

__all__ = ["stream_rollup_1m", "stream_distinct_sketch_1m",
           "stream_item_counts_1m", "stream_encode_blocks",
           "stream_heartbeat_tier", "stream_corr_tier", "stream_twa_tier",
           "stream_rate_tier", "stream_hist_tier", "stream_state_tier",
           "stream_candle_tier", "stream_autocorr_tier",
           "stream_exphist_tier", "stream_trend_tier",
           "make_ingest_batch_fn", "merge_late_staging",
           "split_by_frontier"]
