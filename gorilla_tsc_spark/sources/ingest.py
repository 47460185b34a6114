"""Raw-log ingestion: JSONL / CSV transcript files → the canonical
transcripts shape, safely.

Real conversation logs rarely arrive as curated parquet — they land as
JSONL (one turn per line, the interchange format every logging stack
emits) or CSV exports.  Reading them at 100 TB has three failure modes
this module closes, all with built-in Spark machinery (no Python in
the data path):

1. **Schema inference is a full extra scan and a correctness trap**
   (one all-null file flips a column's type).  We always pass the
   explicit read schema — the canonical ``TRANSCRIPTS_SCHEMA`` with
   ``ts`` as string (parsed under our control, not the reader's) plus
   a ``_corrupt_record`` column.
2. **One malformed line must not kill a 1000-executor job** (Spark's
   default PERMISSIVE mode nulls every field silently — worse than a
   crash, it fabricates rows).  We quarantine instead: malformed
   lines come back whole in ``_corrupt_record``; `split_corrupt`
   separates them so the caller can count/store/alert, and the clean
   side drops rows that lost a REQUIRED field.
3. **At-least-once log shippers duplicate turns.**  `dedupe_turns`
   resolves exact (conv_id, turn_idx) collisions deterministically —
   keep the LATEST ts, ties broken by the richer (longer-text) row —
   with one ``max_by`` aggregate (no window, no shuffle beyond the
   one keyed groupBy every downstream encode needs anyway).

The output of `read_transcripts_jsonl` / `read_transcripts_csv` +
`dedupe_turns` is exactly what `encode_blocks` / `run_pipeline`
consume; per-turn text equality under the stable turn ordering (the
north-rule invariant) survives because dedupe is deterministic.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: read-side schema: ts as STRING (parsed explicitly afterwards) plus
#: the corrupt-record spill column
_RAW_FIELDS = [
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.StringType()),
]
RAW_SCHEMA = T.StructType(_RAW_FIELDS
                          + [T.StructField("_corrupt_record",
                                           T.StringType())])

#: a row missing any of these is unusable for encode/rollup
REQUIRED = ("conv_id", "turn_idx", "ts")


def _finalize(raw: DataFrame, ts_format: str | None) -> DataFrame:
    """Parse ts, order columns canonically, keep the quarantine col."""
    ts = (F.to_timestamp("ts", ts_format) if ts_format
          else F.to_timestamp("ts"))
    return raw.select("conv_id", "turn_idx", "role", "text", "tool",
                      ts.alias("ts"), "_corrupt_record")


def read_transcripts_jsonl(spark: SparkSession, path: str,
                           ts_format: str | None = None) -> DataFrame:
    """Read JSONL transcript logs (one turn object per line) under the
    explicit schema; malformed lines land whole in ``_corrupt_record``
    instead of being silently nulled or killing the job."""
    raw = (spark.read
           .schema(RAW_SCHEMA)
           .option("mode", "PERMISSIVE")
           .option("columnNameOfCorruptRecord", "_corrupt_record")
           .json(path))
    return _finalize(raw, ts_format)


def read_transcripts_csv(spark: SparkSession, path: str,
                         ts_format: str | None = None,
                         header: bool = True) -> DataFrame:
    """CSV variant of `read_transcripts_jsonl` (same schema contract,
    same quarantine column)."""
    raw = (spark.read
           .schema(RAW_SCHEMA)
           .option("mode", "PERMISSIVE")
           .option("columnNameOfCorruptRecord", "_corrupt_record")
           .option("header", str(header).lower())
           .csv(path))
    return _finalize(raw, ts_format)


def read_transcripts_jsonl_stream(spark: SparkSession, path: str,
                                  ts_format: str | None = None,
                                  max_files: int = 64) -> DataFrame:
    """Streaming twin of `read_transcripts_jsonl`: tail a directory of
    JSONL log files under the SAME explicit schema + quarantine
    contract, ready for `split_corrupt` → the watermarked rollup /
    event-time block encoder.  ``max_files`` bounds each micro-batch
    (maxFilesPerTrigger) so a backlog replay can't build one giant
    batch."""
    raw = (spark.readStream
           .schema(RAW_SCHEMA)
           .option("mode", "PERMISSIVE")
           .option("columnNameOfCorruptRecord", "_corrupt_record")
           .option("maxFilesPerTrigger", max_files)
           .json(path))
    return _finalize(raw, ts_format)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): quarantine = malformed source lines (kept
    verbatim for replay/alerting) plus parseable rows missing a
    REQUIRED field; clean = canonical transcript columns only."""
    bad = F.col("_corrupt_record").isNotNull()
    for c in REQUIRED:
        bad = bad | F.col(c).isNull()
    clean = (df.where(~bad)
             .select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    quarantine = df.where(bad)
    return clean, quarantine


def dedupe_turns(t: DataFrame) -> DataFrame:
    """Resolve duplicate (conv_id, turn_idx) rows deterministically:
    keep the latest ts; on equal ts keep the longer text, then the
    lexicographically greatest (role, text, tool), a present value
    beating a null one — a total order, so any shipper-side
    duplication collapses to one well-defined turn.
    One ``max_by`` over a struct: map-side partial aggregation, the
    same (conv_id,)-keyed shuffle profile as the encode that follows."""
    ranked = []
    for c in ("role", "text", "tool"):
        ranked += [F.col(c).isNotNull().alias(f"has_{c}"),
                   F.coalesce(F.col(c), F.lit("")).alias(c)]
    pick = F.struct(
        F.col("ts"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("tlen"),
        *ranked)
    row = F.struct("role", "text", "tool", "ts")
    return (t.groupBy("conv_id", "turn_idx")
            .agg(F.max_by(row, pick).alias("r"))
            .select("conv_id", "turn_idx", "r.role", "r.text", "r.tool",
                    "r.ts"))
