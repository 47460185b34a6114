"""Backfill ingest: merge late / out-of-order transcript turns into a
sealed Gorilla block store.

Why this operator exists at 100 TB: the encoder requires points in
increasing time order per series (reference contract:
README.adoc:150 "values must be inserted in increasing time order"),
and the streaming path seals a conversation's block when the
watermark passes — so turns that arrive AFTER their conversation's
blocks were sealed (delayed exports, replayed queues, backfilled
history) cannot be appended to an immutable bitstream.  Every
production TSDB has this operator (TimescaleDB decompress-chunk +
reinsert, InfluxDB TSM compaction-merge); ours is the same
copy-on-write shape the purge and compaction paths already use:

- Late turns are encoded into LATE STAGING BLOCKS by the normal batch
  encoder (one shuffle over the late batch only) with ``seq`` set to
  the ``LATE_SEQ`` sentinel.
- Conversations with no late data pass through byte-identical — a
  broadcast anti-join on the (tiny) affected-conversation set; no
  payload is decoded, no surviving block is rewritten.
- Affected conversations' blocks union the staging blocks and go
  through the compaction kernel (operators/compact.py): decode, merge
  with the late points under a stable per-series ts sort, re-encode as
  canonical span-auto blocks with day sub-aggregates — so the day tier
  still rolls up from block METADATA after a backfill, and
  rollup.refresh_tier composes for the standing tiers (cost ∝ the
  late batch at every stage).

Conflict policy at equal (series, ts):

- ``on_conflict="keep_both"`` (default): both points are encoded (the
  format permits equal timestamps — delta-of-delta 0); right for
  event-like channels where a timestamp collision is two real turns.
- ``on_conflict="last"``: last-write-wins upsert — the late value
  replaces every on-time point at that timestamp (the
  TimescaleDB/InfluxDB upsert semantic).  Pre-existing duplicate
  timestamps the late batch never touches are preserved.

Cost model: one bounded shuffle over the late batch (encode), one
broadcast of the affected conv_id set, one (conv_id, channel)-keyed
shuffle over the AFFECTED conversations' blocks only.  The untouched
~99.9 % of the store is a scan-side anti-join filter.  On Iceberg this
is MERGE INTO with copy-on-write row groups.

Reference parity note: gorilla-tsc itself has no out-of-order story —
blocks are closed bitstreams (GorillaCompressor.java close()); this is
an engine-level operator mandated by the ingest half of the north
rule, composed from the already-gated encode and compaction kernels.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.channels import Channel, default_channels
from .compact import compact_blocks
from .encode import encode_blocks

#: seq sentinel marking late staging blocks inside the merge shuffle.
#: Far above any real sub-block seq (turn_idx / points_per_block);
#: fits int32.
LATE_SEQ = 1 << 30


def ingest_backfill(blocks: DataFrame, late_transcripts: DataFrame,
                    channels: list[Channel] | None = None,
                    predictor: str | None = None,
                    shuffle_partitions: int | None = None,
                    on_conflict: str = "keep_both") -> DataFrame:
    """Merge a late transcript batch into an existing block store.

    Returns the updated store: blocks of unaffected conversations
    byte-identical, affected conversations' series re-encoded span-auto
    with the late points merged in canonical (ts) order.  Conversations
    that appear ONLY in the late batch (an entirely late conversation)
    are encoded and included.  An empty late batch returns the store
    unchanged.

    ``predictor`` must match the store's encode-time predictor, as for
    decode/compact/audit.
    """
    if on_conflict not in ("keep_both", "last"):
        raise ValueError(f"on_conflict must be 'keep_both' or 'last', "
                         f"got {on_conflict!r}")
    channels = channels or default_channels()
    late_blocks = (encode_blocks(late_transcripts, channels,
                                 predictor=predictor)
                   .withColumn("seq", F.lit(LATE_SEQ).cast("int")))
    # every channel of an affected conversation receives late points
    # (channels are per-turn projections), so conv_id-level routing is
    # exact; the late batch is tiny next to the store, so it broadcasts
    affected = late_transcripts.select("conv_id").distinct()
    untouched = blocks.join(F.broadcast(affected), "conv_id", "left_anti")
    touched = blocks.join(F.broadcast(affected), "conv_id", "left_semi")
    merged = compact_blocks(
        touched.unionByName(late_blocks),
        shuffle_partitions, predictor=predictor,
        lww_late_seq=(LATE_SEQ if on_conflict == "last" else None))
    return untouched.unionByName(merged)
