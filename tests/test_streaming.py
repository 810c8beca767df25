"""Structured Streaming: incremental dictionary ingest must reach the same
final state as a batch load (the reference's chunked-ingest invariant)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row, functions as F

from spellchecker_wasm_spark.queries import TABLES
from spellchecker_wasm_spark.streaming import (
    stream_dictionary_ingest, windowed_event_counts)


def test_stream_ingest_matches_batch_final_state(spark, tmp_path):
    d = tmp_path / "dict_in"
    d.mkdir()
    (d / "a.txt").write_text("the 100\nof 50\nbelow 1\n")
    q = stream_dictionary_ingest(spark, str(d), query_name="ws1",
                                 count_threshold=2)
    q.awaitTermination(60)
    got1 = {r["term"]: r["count"] for r in spark.table("ws1").collect()}
    assert got1 == {"the": 100, "of": 50}

    # incremental append merges counts (SpellCheckerBase.ts:100-103):
    # 'below' crosses the threshold via accumulation
    (d / "b.txt").write_text("the 10\nbelow 5\n")
    q2 = stream_dictionary_ingest(spark, str(d), query_name="ws2",
                                  count_threshold=2)
    q2.awaitTermination(60)
    got2 = {r["term"]: r["count"] for r in spark.table("ws2").collect()}
    assert got2 == {"the": 110, "of": 50, "below": 6}


def test_windowed_event_counts_static_vs_stream(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    static = windowed_event_counts(events)
    want = {(r["window_start"], r["event_type"]): (r["n"], r["value_cents"])
            for r in static.collect()}
    assert want

    src = tmp_path / "events_in"
    src.mkdir()
    events.coalesce(1).write.mode("overwrite").parquet(str(src / "p"))
    stream = (spark.readStream.schema(events.schema)
              .parquet(str(src / "p")))
    out = windowed_event_counts(stream)
    q = (out.writeStream.format("memory").queryName("ev_win")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"], r["event_type"]): (r["n"], r["value_cents"])
           for r in spark.table("ev_win").collect()}
    # append mode emits only watermark-closed windows; every emitted window
    # must match the batch result, and most windows should have closed
    assert got
    for k, v in got.items():
        assert want[k] == v


def test_stream_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup across micro-batches: duplicates arriving
    within the watermark horizon are suppressed, so the streamed output's
    key set equals the batch dropDuplicates over the union."""
    import datetime as dt

    from spellchecker_wasm_spark.streaming import stream_exact_dedup

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [Row(doc_id=i, text=f"document body {i % 30}",
                ts=t0 + dt.timedelta(seconds=i)) for i in range(60)]
    df = spark.createDataFrame(rows)
    src = tmp_path / "docs_in"
    src.mkdir()
    # file 1: 30 distinct texts; file 2: 30 duplicates of them, 30s later
    df.where("doc_id < 30").coalesce(1).write.parquet(str(src / "b1"))
    df.where("doc_id >= 30").coalesce(1).write.parquet(str(src / "b2"))

    batch_keys = {r["content_key"] for r in
                  stream_exact_dedup(df, ["text"]).collect()}
    assert len(batch_keys) == 30

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src / "*")))
    out = stream_exact_dedup(stream, ["text"], watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("dedup_s")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck_dedup")).start())
    q.awaitTermination(120)
    got = spark.table("dedup_s").collect()
    assert len(got) == 30
    assert {r["content_key"] for r in got} == batch_keys


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: final per-user state across TWO
    time-ordered micro-batches must equal the batch event_sessions
    computation over the full table."""
    from pyspark.sql import functions as F

    from spellchecker_wasm_spark.streaming.sessions import sessionize_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    # batch truth (same logic as the event_sessions catalog oracle)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = events.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    want = {r["user_id"]: (r["n"], r["s"]) for r in
            (marked.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("new_session").alias("s"))).collect()}

    # two micro-batches split at the median ts (per-user times are then
    # non-decreasing across batches — the operator's ordering contract)
    median = (events.select(F.unix_timestamp("ts").cast("double")
                            .alias("u"))
              .approxQuantile("u", [0.5], 0.0)[0])
    src = tmp_path / "sess_in"
    src.mkdir()
    (events.where(F.unix_timestamp("ts") <= median).coalesce(1)
     .write.parquet(str(src / "b1")))
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src / "*")))
    out = sessionize_stream(stream.select("user_id", "ts", "event_id"))
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    (events.where(F.unix_timestamp("ts") > median).coalesce(1)
     .write.parquet(str(src / "b2")))
    q2 = (out.writeStream.format("memory").queryName("sess2")
          .outputMode("update").trigger(availableNow=True)
          .option("checkpointLocation", str(tmp_path / "ck")).start())
    q2.awaitTermination(120)
    # update-mode memory sink appends one row per user per micro-batch;
    # the final state is the row with the (monotone) max event count
    got = {}
    for r in spark.table("sess2").collect():
        prev = got.get(r["user_id"])
        cur = (r["n_events"], r["n_sessions"])
        if prev is None or cur[0] > prev[0]:
            got[r["user_id"]] = cur
    assert got == want


# The catalog's streaming rows replay a fixture table through
# queries._run_stream (two mtime-ordered files, memory sink).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.mark.parametrize("table", TABLES)
def test_stream_source_schema_from_arrow_equals_parquet_inference(
        spark, table):
    """The streaming rows take their source schema from the Arrow table
    they split, and queries.load from the parquet footer (no inference
    job); both must be exactly the schema Spark infers from the parquet
    file, timestamp_ntz included."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from spellchecker_wasm_spark.queries import _read_arrow, load

    want = spark.read.parquet(f"{SF_DIR}/{table}.parquet").schema
    got = from_arrow_schema(_read_arrow(SF_DIR, table).schema,
                            prefer_timestamp_ntz=True)
    assert got == want
    assert load(spark, SF_DIR, table).schema == want


def test_stream_row_timeout_raises_and_stops_query(spark, monkeypatch):
    """A streaming row that does not finish in time is an error, not the
    partial memory-sink contents, and it leaves no query running."""
    from spellchecker_wasm_spark import queries

    monkeypatch.setattr(queries, "_STREAM_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="stream_dedup_exact"):
        queries.CATALOG["stream_dedup_exact"][0](spark, SF_DIR)
    assert spark.streams.active == []


def test_stream_row_removes_its_split_directory(spark, tmp_path,
                                                monkeypatch):
    """The two-file split is a full copy of the table; the memory sink
    holds the result, so nothing of the split may outlive the build."""
    from spellchecker_wasm_spark import queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = queries.CATALOG["stream_dedup_exact"][0](spark, SF_DIR).collect()
    assert rows
    assert list(tmp_path.iterdir()) == []
