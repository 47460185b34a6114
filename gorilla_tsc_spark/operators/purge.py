"""Targeted purge: delete specific conversations (or a time range
within them) from the block store and every rollup tier.

Why this operator exists at 100 TB: compliance deletes ("forget these
conv_ids", "redact everything a conversation said between t0 and t1")
are routine against a transcript warehouse, and the naive plan —
decode-all → filter → re-encode-all — rewrites the entire store.  The
engine's layout makes the right plan cheap:

- Blocks and every tier are keyed by ``conv_id``, so a whole-
  conversation purge is a broadcast **anti-join** — a metadata-level
  row filter that never touches a payload byte.  On Iceberg this is
  ``DELETE FROM blocks WHERE conv_id IN (...)`` resolved as partition/
  position deletes (the purge set is tiny next to the corpus, so it
  broadcasts).
- A **range** purge is copy-on-write for matched conversations only:
  blocks of non-matched conversations pass through untouched (pure
  anti-join); blocks of matched conversations go through the
  compaction kernel with ``drop_range`` set, which decodes, drops the
  purged points, and re-encodes the survivors as canonical span-auto
  blocks (one shuffle keyed (conv_id, channel), whole series per
  group, so rewritten block identities never collide with surviving
  ones).  A conversation fully inside the range simply disappears.

Matches the retention-tier contract: after a purge, the day tier
rebuilt from block METADATA equals the day tier computed from the
decoded surviving points (pytest-gated in tests/test_purge.py).

Reference parity note: the reference codec library (gorilla-tsc) has
no deletion story — blocks are immutable byte streams
(GorillaCompressor.java close()); purge is an engine-level operator
mandated by the retention half of the north rule, built from the same
decode/re-encode kernels as compaction.
"""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compact import compact_blocks


def _ids_df(df: DataFrame, conv_ids) -> DataFrame:
    """Normalize the purge set to a single-column (conv_id) DataFrame."""
    if isinstance(conv_ids, DataFrame):
        return conv_ids.select("conv_id").distinct()
    # a typed Arrow column: an empty purge set is a clean no-op, not a
    # schema-inference crash, and the frame plans a LocalRelation (a
    # list-built frame runs a Python task per core on every action)
    return df.sparkSession.createDataFrame(
        pa.table({"conv_id": pa.array(list(conv_ids), pa.string())}))


def purge_conversations(df: DataFrame, conv_ids) -> DataFrame:
    """Drop every row of the given conversations from any conv_id-keyed
    table (block store, 1m/1h/1d tiers, raw transcripts alike).

    Broadcast anti-join: the purge set ships to every executor once;
    no payload is decoded, no surviving row is rewritten.
    """
    return df.join(F.broadcast(_ids_df(df, conv_ids)),
                   "conv_id", "left_anti")


def purge_range(blocks: DataFrame, conv_ids, t0_ms: int, t1_ms: int,
                shuffle_partitions: int | None = None,
                predictor: str | None = None) -> DataFrame:
    """Remove points with t0 <= ts < t1 from the given conversations'
    blocks; every other block passes through byte-identical.

    Copy-on-write restricted to matched conversations: the anti-join
    branch is a scan-level filter (no decode), the semi-join branch
    re-encodes each matched (conv_id, channel) series span-auto with
    the purged range dropped.  Rewriting the whole matched series
    (rather than only overlapping blocks) keeps output block
    identities canonical — day-seq sub-blocks of a half-purged day
    can't collide with a rewritten block — and matched conversations
    are a vanishing fraction of the store, so the extra bytes moved
    are noise.
    """
    ids = _ids_df(blocks, conv_ids)
    untouched = blocks.join(F.broadcast(ids), "conv_id", "left_anti")
    matched = blocks.join(F.broadcast(ids), "conv_id", "left_semi")
    # matched conversations with NO block overlapping the window have
    # nothing to purge — pass them through byte-identical too (the
    # overlap set is a subset of the already-tiny purge set, so it
    # broadcasts; first_ts/last_ts are metadata, no decode)
    hit = (matched
           .where((F.col("last_ts") >= F.lit(t0_ms))
                  & (F.col("first_ts") < F.lit(t1_ms)))
           .select("conv_id").distinct())
    missed = matched.join(F.broadcast(hit), "conv_id", "left_anti")
    rewritten = compact_blocks(
        matched.join(F.broadcast(hit), "conv_id", "left_semi"),
        shuffle_partitions, drop_range=(t0_ms, t1_ms), predictor=predictor)
    return untouched.unionByName(missed).unionByName(rewritten)


def patch_tier_after_range_purge(tier: DataFrame, purged_blocks: DataFrame,
                                 conv_ids, bucket_ms: int,
                                 predictor: str | None = None,
                                 channels=None) -> DataFrame:
    """Bring a rollup tier in line with a range-purged block store.

    Whole-conversation purges compose with tiers directly (the same
    anti-join applies to any conv_id-keyed table), but a RANGE purge
    leaves the matched conversations' tier rows aggregating points
    that no longer exist.  This operator drops the matched
    conversations' tier rows and recomputes them from the surviving
    blocks — decode cost ∝ purge set, never the store: the unmatched
    tier rows pass through as a scan-side anti-join filter, and only
    the matched conversations' (already rewritten, span-auto) blocks
    reach the decode kernel.

    Output rows for matched conversations are bit-equal to a full tier
    rebuild (same rollup_points path as the pipeline), pinned by
    tests/test_purge_serve.py.
    """
    from ..functions.channels import agg_channel_names
    from .encode import block_value_column, decode_blocks
    from .rollup import rollup_points

    ids = _ids_df(tier, conv_ids)
    keep = tier.join(F.broadcast(ids), "conv_id", "left_anti")
    matched_blocks = purged_blocks.join(F.broadcast(ids), "conv_id",
                                        "left_semi")
    # channels/predictor must match the pipeline that built the tier,
    # or custom aggregated channels would be dropped but not recomputed
    points = decode_blocks(matched_blocks, predictor).where(
        F.col("channel").isin(agg_channel_names(channels)))
    recomputed = rollup_points(points, bucket_ms, block_value_column())
    return keep.unionByName(recomputed.select(*keep.columns))
