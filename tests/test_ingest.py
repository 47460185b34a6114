"""Raw-log ingestion (sources/ingest.py): JSONL/CSV under the explicit
schema, corrupt-line quarantine, required-field splitting, and the
deterministic duplicate-turn resolution — including that the ingested
corpus feeds encode_blocks unchanged (the text-equality invariant)."""
from __future__ import annotations

from pyspark.sql import functions as F

from gorilla_tsc_spark.sources.ingest import (
    dedupe_turns,
    read_transcripts_csv,
    read_transcripts_jsonl,
    split_corrupt,
)

GOOD = [
    '{"conv_id":"c1","turn_idx":0,"role":"user","text":"hi there",'
    '"tool":null,"ts":"2024-01-08T00:00:00"}',
    '{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"hello!",'
    '"tool":"search","ts":"2024-01-08T00:00:05"}',
    '{"conv_id":"c2","turn_idx":0,"role":"user","text":"yo",'
    '"tool":null,"ts":"2024-01-08T01:00:00"}',
]
BROKEN = '{"conv_id":"c3","turn_idx":0,  << not json'
MISSING_TS = ('{"conv_id":"c4","turn_idx":0,"role":"user",'
              '"text":"no ts","tool":null,"ts":null}')


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_jsonl_quarantine_and_split(spark, tmp_path):
    path = _write(tmp_path, "t.jsonl", GOOD + [BROKEN, MISSING_TS])
    df = read_transcripts_jsonl(spark, path)
    clean, quarantine = split_corrupt(df)
    assert clean.count() == 3
    assert clean.columns == ["conv_id", "turn_idx", "role", "text",
                             "tool", "ts"]
    q = quarantine.collect()
    assert len(q) == 2
    # the malformed line is preserved VERBATIM for replay
    assert any(r["_corrupt_record"] == BROKEN for r in q)
    # the parseable-but-unusable row is quarantined too, not dropped
    assert any(r["conv_id"] == "c4" and r["_corrupt_record"] is None
               for r in q)
    # ts parsed to a real timestamp
    row = clean.where("conv_id = 'c1' AND turn_idx = 1").first()
    assert row["ts"].second == 5 and row["tool"] == "search"


def test_csv_same_contract(spark, tmp_path):
    lines = ["conv_id,turn_idx,role,text,tool,ts",
             "c1,0,user,hi,,2024-01-08T00:00:00",
             "c1,not_an_int,user,broken,,2024-01-08T00:00:01"]
    path = _write(tmp_path, "t.csv", lines)
    clean, quarantine = split_corrupt(read_transcripts_csv(spark, path))
    assert clean.count() == 1
    assert quarantine.count() == 1


def test_dedupe_turns_total_order(spark, tmp_path):
    dup_newer = ('{"conv_id":"c1","turn_idx":0,"role":"user",'
                 '"text":"hi there (edited)","tool":null,'
                 '"ts":"2024-01-08T00:00:09"}')
    dup_tie_shorter = ('{"conv_id":"c2","turn_idx":0,"role":"user",'
                       '"text":"y","tool":null,'
                       '"ts":"2024-01-08T01:00:00"}')
    path = _write(tmp_path, "t.jsonl", GOOD + [dup_newer, dup_tie_shorter])
    clean, _ = split_corrupt(read_transcripts_jsonl(spark, path))
    out = dedupe_turns(clean)
    assert out.count() == 3
    # latest ts wins
    assert (out.where("conv_id = 'c1' AND turn_idx = 0")
            .first()["text"] == "hi there (edited)")
    # equal ts: the richer (longer-text) row wins
    assert (out.where("conv_id = 'c2' AND turn_idx = 0")
            .first()["text"] == "yo")
    # duplicates differing only in null vs "" tool: one survivor (the
    # present value) whichever arrives first
    dup = [("c9", 0, "user", "hi", None, None),
           ("c9", 0, "user", "hi", "", None)]
    for rows in (dup, dup[::-1]):
        t = (spark.createDataFrame(rows, clean.schema)
             .withColumn("ts", F.lit(out.first()["ts"])).coalesce(1))
        assert dedupe_turns(t).first()["tool"] == ""


def test_ingested_corpus_feeds_encode(spark, tmp_path):
    # end to end: JSONL → quarantine split → dedupe → Gorilla encode →
    # decode reproduces the per-turn channel exactly (the text-equality
    # invariant carried through the numeric channel)
    from gorilla_tsc_spark.operators.encode import (block_value_column,
                                                    decode_blocks,
                                                    encode_blocks)
    path = _write(tmp_path, "t.jsonl", GOOD + [BROKEN])
    clean, _ = split_corrupt(read_transcripts_jsonl(spark, path))
    t = dedupe_turns(clean)
    pts = (decode_blocks(encode_blocks(t))
           .where(F.col("channel") == "len")
           .select("conv_id", "ts_ms", block_value_column().alias("v")))
    want = {(r["conv_id"], r["ts_ms"]): float(len(r["text"]))
            for r in t.select("conv_id", F.unix_millis("ts").alias("ts_ms"),
                              "text").collect()}
    got = {(r["conv_id"], r["ts_ms"]): r["v"] for r in pts.collect()}
    assert got == want


def test_jsonl_stream_matches_batch(spark, tmp_path):
    # the streaming reader under the same schema/quarantine contract:
    # replaying the directory availableNow must reproduce the batch
    # reader's clean rows exactly (quarantine handled per micro-batch)
    from gorilla_tsc_spark.sources.ingest import read_transcripts_jsonl_stream
    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.jsonl").write_text("\n".join(GOOD[:2]) + "\n")
    (d / "b.jsonl").write_text("\n".join([GOOD[2], BROKEN]) + "\n")
    clean_s, _ = split_corrupt(
        read_transcripts_jsonl_stream(spark, str(d), max_files=1))
    q = (clean_s.writeStream.format("memory").queryName("ingest_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ingest_stream")
    want, _ = split_corrupt(read_transcripts_jsonl(spark, str(d)))
    assert got.count() == 3
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_encode_rollup_job_ingests_jsonl(spark, tmp_path, capsys,
                                         monkeypatch):
    # the flagship job end-to-end on RAW LOGS: JSONL dir → quarantine
    # parquet + counter → dedupe → full pipeline (blocks + tiers)
    import json
    import sys as _sys

    from pyspark.sql import SparkSession

    import jobs.encode_rollup_job as job

    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.jsonl").write_text("\n".join(GOOD + [BROKEN]) + "\n")
    wh = str(tmp_path / "wh")
    monkeypatch.setattr(_sys, "argv", [
        "encode_rollup_job.py", "--input", str(d), "--warehouse", wh,
        "--cores", "8"])
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    job.main()
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["quarantined"] == 1
    assert stats["points"] > 0 and stats["blocks"] > 0
    # the quarantine table holds the malformed line verbatim
    q = spark.read.parquet(f"{wh}/ingest_quarantine").collect()
    assert len(q) == 1 and q[0]["_corrupt_record"] == BROKEN


def test_export_job_jsonl_format(spark, tmp_path, capsys, monkeypatch):
    # export_job --format jsonl: the pruned-decode window export in a
    # format downstream non-parquet consumers ingest directly
    import json
    import sys as _sys

    from pyspark.sql import SparkSession

    import jobs.export_job as job
    from gorilla_tsc_spark.operators.encode import encode_blocks

    path = _write(tmp_path, "t.jsonl", GOOD)
    clean, _ = split_corrupt(read_transcripts_jsonl(spark, str(path)))
    t = dedupe_turns(clean)
    wh = str(tmp_path / "wh")
    encode_blocks(t).write.parquet(f"{wh}/gorilla_blocks")
    t0 = t.agg(F.min(F.unix_millis("ts"))).first()[0]
    t1 = t.agg(F.max(F.unix_millis("ts"))).first()[0] + 1
    out = str(tmp_path / "export")
    monkeypatch.setattr(_sys, "argv", [
        "export_job.py", "--warehouse", wh, "--t0-ms", str(t0),
        "--t1-ms", str(t1), "--out", out, "--channel", "len",
        "--format", "jsonl", "--cores", "8"])
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    job.main()
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["points_exported"] == 3
    got = spark.read.json(out)
    assert got.count() == 3 and "conv_id" in got.columns
