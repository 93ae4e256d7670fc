"""Streaming semantics tests (SURVEY.md §5.2).

Strategy: file-source streams + ``trigger(availableNow=True)`` drain
deterministically; the golden output is the SAME transform run in batch
mode on the same data (stream/batch duality).
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_bigdata_jobs_spark.schemas import load_table
from kafka_bigdata_jobs_spark.sources.kafka import decode_json_events
from kafka_bigdata_jobs_spark.sources.stream_files import read_parquet_stream
from kafka_bigdata_jobs_spark.streaming.runner import (
    ConsoleReportSink,
    MemorySink,
    ParquetSink,
    run_multi_sink,
    run_to_parquet,
)
from kafka_bigdata_jobs_spark.streaming.windows import windowed_agg

SF = "/root/testdata/sf0.001"

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _append_time_quarters(spark, d: str, which: range) -> None:
    """Append the events fixture's time quartiles ``which`` (of 0-3) to
    ``d``, one parquet file each, in time order (written sequentially so
    file mod-times ascend with event time; out-of-order files would look
    like late data and be watermark-dropped)."""
    import time

    ev = load_table(spark, SF, "events").cache()
    bounds = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), array(0.25, 0.5, 0.75)) as q"
    ).first()["q"]
    edges = [None, *bounds, None]
    ts = F.col("ts").cast("timestamp").cast("double")
    for i in which:
        lo, hi = edges[i], edges[i + 1]
        part = ev
        if lo is not None:
            part = part.where(ts >= lo)
        if hi is not None:
            part = part.where(ts < hi)
        part.coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)  # distinct mod-times → deterministic file order
    ev.unpersist()


@pytest.fixture(scope="module")
def events_stream_dir(spark):
    """Events fixture as 4 time-ordered parquet files → 4 in-order
    micro-batches."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    _append_time_quarters(spark, d, range(4))
    return d


def _windowed_counts(df):
    return windowed_agg(
        df,
        "ts",
        "10 minutes",
        [F.count(F.lit(1)).alias("n_events"), F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents")],
        keys=["event_type"],
    )


def test_stream_equals_batch_windowed_agg(spark, events_stream_dir):
    batch = _windowed_counts(load_table(spark, SF, "events"))
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in batch.collect()
    }

    stream = read_parquet_stream(spark, events_stream_dir, EVENTS_SCHEMA)
    sink = MemorySink()
    with tempfile.TemporaryDirectory() as ckpt:
        q = run_multi_sink(_windowed_counts(stream), [sink], checkpoint=ckpt)
        q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in sink.rows
    }
    # availableNow drains everything; watermark never closes the final
    # window(s) beyond max event time, so the stream emits only windows
    # the watermark passed — every emitted window must match batch, and
    # coverage must be substantial.
    assert got, "stream produced no windows"
    for k, v in got.items():
        assert expected[k] == v, f"window {k}: stream={v} batch={expected[k]}"
    assert len(got) >= len(expected) - len({k[1] for k in expected}) * 2


def test_multi_sink_fanout(spark, events_stream_dir):
    stream = read_parquet_stream(spark, events_stream_dir, EVENTS_SCHEMA)
    mem1, mem2 = MemorySink(), MemorySink()
    with tempfile.TemporaryDirectory() as ckpt, tempfile.TemporaryDirectory() as out:
        pq = ParquetSink(path=out)
        q = run_multi_sink(
            stream.select("event_id", "event_type"), [mem1, mem2, pq], checkpoint=ckpt
        )
        q.awaitTermination(120)
        n_parquet = spark.read.parquet(out).count()
    n = load_table(spark, SF, "events").count()
    assert len(mem1.rows) == len(mem2.rows) == n_parquet == n


def test_console_report_sink_prints_bounded_rows(spark, tmp_path, capsys):
    """The console report prints at most ``limit`` rows of a batch while
    the fan-out still hands every row to the other sinks."""
    src = str(tmp_path / "src")
    spark.range(50).coalesce(1).write.parquet(src)
    stream = read_parquet_stream(spark, src, T.StructType([T.StructField("id", T.LongType())]))
    mem = MemorySink()
    q = run_multi_sink(
        stream, [ConsoleReportSink("t", limit=7), mem], checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    lines = capsys.readouterr().out.splitlines()
    assert [ln for ln in lines if ln.startswith("===")] == ["=== t [batch 0] (7 rows) ==="]
    assert len([ln for ln in lines if ln.startswith("   {")]) == 7
    assert sorted(r.id for r in mem.rows) == list(range(50))


def test_run_to_parquet_restart_exactly_once(spark, tmp_path):
    """``run_to_parquet`` drains a file stream, then restarts on the same
    checkpoint after a new file lands: the output holds every input row
    exactly once."""
    ev = load_table(spark, SF, "events").select("event_id", "event_type")
    halves = [ev.where(F.col("event_id") % 2 == i) for i in range(2)]
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for half in halves:
        half.coalesce(1).write.mode("append").parquet(src)
        stream = read_parquet_stream(spark, src, ev.schema)
        run_to_parquet(stream, out, ckpt).awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == sorted(tuple(r) for r in ev.collect())


def test_json_decode_malformed_to_nulls(spark):
    payloads = [
        ('{"crypto_type":"bitcoin","user_name":"alice","user_followers":10,'
         '"user_verified":true,"text":"hi","timestamp":"2024-01-01T00:00:00"}',),
        ("not json at all",),
        ('{"crypto_type":"ethereum","user_name":"bob","timestamp":"2024-01-01T00:05:00"}',),
    ]
    raw = spark.createDataFrame(payloads, ["value"]).select(
        F.col("value").cast("binary").alias("value")
    )
    decoded = decode_json_events(raw)
    rows = decoded.collect()
    assert len(rows) == 3
    by_user = {r["user_name"]: r for r in rows}
    assert by_user["alice"]["user_followers"] == 10
    assert by_user["alice"]["event_time"] is not None
    assert None in by_user  # malformed row → all-null struct
    assert by_user["bob"]["user_followers"] is None


def test_watermark_applied_only_on_streams(spark):
    batch = load_table(spark, SF, "events")
    out = _windowed_counts(batch)
    assert not out.isStreaming


def test_stream_dedup_within_watermark_equals_batch(spark):
    """At-least-once re-delivery dedup: a stream whose files carry each
    event twice must emit each event_id exactly once, matching the
    batch twin (global dropDuplicates) on the same doubled data."""
    import time

    from kafka_bigdata_jobs_spark.operators.dedup import dedup_within_watermark

    d = tempfile.mkdtemp(prefix="dedup_stream_")
    ev = (
        load_table(spark, SF, "events")
        .where(F.col("user_id") < 10)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .cache()
    )
    mid = ev.selectExpr("percentile(cast(cast(ts as timestamp) as double), array(0.5)) as q").first()["q"][0]
    for pred in [F.col("ts").cast("timestamp").cast("double") < mid, F.col("ts").cast("timestamp").cast("double") >= mid]:
        part = ev.where(pred)
        # every row twice IN THE SAME FILE: duplicates land in one
        # micro-batch, so state eviction can never race re-delivery and
        # the expected output is exact, not watermark-timing-dependent.
        part.union(part).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)

    doubled = ev.union(ev)
    batch_ids = sorted(
        r["event_id"] for r in dedup_within_watermark(
            doubled, ["event_id"], "ts"
        ).collect()
    )
    assert len(batch_ids) == ev.count()  # batch twin drops every dupe

    schema = T.StructType([f for f in EVENTS_SCHEMA if f.name != "props"])
    stream = read_parquet_stream(spark, d, schema)
    deduped = dedup_within_watermark(stream, ["event_id"], "ts")
    assert deduped.isStreaming
    sink = MemorySink()
    with tempfile.TemporaryDirectory() as ckpt:
        q = run_multi_sink(deduped, [sink], checkpoint=ckpt)
        q.awaitTermination(120)
    got_ids = sorted(r["event_id"] for r in sink.rows)
    assert got_ids == batch_ids
    ev.unpersist()


def test_checkpoint_restart_exactly_once(spark):
    """Stop a checkpointed stream, add new source files, restart with the
    SAME checkpoint: the sink must contain every source row exactly once
    — offsets resume from the checkpoint, no reprocessing, no loss
    (reference relies on this implicitly via checkpointLocation on all
    14 writeStream sites, e.g. streaming/job1_bots.py:363-369)."""
    import tempfile

    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    quarters = [ev.where(F.col("event_id") % 4 == i) for i in range(4)]

    src = tempfile.mkdtemp(prefix="ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_state_")
    out = tempfile.mkdtemp(prefix="ckpt_out_")

    def start_query():
        stream = read_parquet_stream(spark, src, quarters[0].schema)
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    for i in range(2):
        quarters[i].coalesce(1).write.mode("append").parquet(src)
    q = start_query()
    q.processAllAvailable()
    q.stop()

    for i in range(2, 4):
        quarters[i].coalesce(1).write.mode("append").parquet(src)
    q = start_query()
    q.processAllAvailable()
    q.stop()

    got = spark.read.schema(quarters[0].schema).parquet(out)
    assert got.count() == ev.count()  # no duplicates, no loss
    assert got.select("event_id").distinct().count() == ev.count()


def test_stateful_checkpoint_restart(spark, tmp_path):
    """A watermarked windowed count drains half its input, stops, and
    restarts on the same checkpoint with the rest: windows open at the
    stop come back from the state store, so every emitted row is a
    batch row, none is emitted twice, and every window closed by the
    final watermark is there.  Every state ``<v>.delta`` keeps Spark's
    ``<v>.delta.crc`` checksum file."""
    import glob
    import os

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    sink = MemorySink()
    for half in (range(2), range(2, 4)):
        _append_time_quarters(spark, src, half)
        stream = read_parquet_stream(spark, src, EVENTS_SCHEMA)
        q = run_multi_sink(_windowed_counts(stream), [sink], checkpoint=ckpt)
        q.awaitTermination(120)
        assert q.exception() is None
    watermark = max(p["eventTime"]["watermark"] for p in q.recentProgress
                    if p["eventTime"].get("watermark"))

    batch = _windowed_counts(load_table(spark, SF, "events"))
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in batch.collect()
    }
    closed = {
        (r["window_start"], r["event_type"])
        for r in batch.where(
            F.col("window_end") <= F.lit(watermark).cast("timestamp")).collect()
    }
    got = [((r["window_start"], r["event_type"]), (r["n_events"], r["value_cents"]))
           for r in sink.rows]
    assert len(sink.batches) > 2
    assert len({k for k, _ in got}) == len(got), "window emitted twice"
    for k, v in got:
        assert expected.get(k) == v, f"window {k}: stream={v} batch={expected.get(k)}"
    assert closed, "final watermark closed no window"
    assert closed <= {k for k, _ in got}

    deltas = glob.glob(os.path.join(ckpt, "state", "*", "*", "*.delta"))
    assert deltas
    for delta in deltas:
        assert os.path.exists(delta + ".crc"), delta


def test_complete_mode_running_aggregate(spark):
    """Complete output mode re-emits the full aggregate each batch (the
    mode the reference never uses — its jobs are append-only): after
    draining, the memory table equals the batch groupBy exactly."""
    import tempfile

    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = tempfile.mkdtemp(prefix="complete_src_")
    ev.coalesce(2).write.mode("overwrite").parquet(src)

    stream = read_parquet_stream(spark, src, ev.schema)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("complete_counts")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {r["event_type"]: r["n"] for r in spark.table("complete_counts").collect()}
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_progress_listener_records_batches(spark, tmp_path):
    """ProgressRecorder sees every micro-batch with its input-row count;
    totals reconcile with the source row count exactly.  The stateful
    windowed count also reports rates, state size and the watermark."""
    import time

    from kafka_bigdata_jobs_spark.schemas import load_table
    from kafka_bigdata_jobs_spark.streaming.monitor import ProgressRecorder

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "src")
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            # Testdata ts is TIMESTAMP_NTZ; a watermark needs TIMESTAMP.
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"))
            .count()
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # The listener bus is async; progress events can trail termination.
        deadline = time.time() + 30
        while rec.total_rows() < ev.count() and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)

    assert rec.total_rows() == ev.count()
    data = [r for r in rec.records if r.num_input_rows > 0]
    assert len(data) == 3
    assert all(r.duration_ms is not None for r in rec.records)
    assert all(r.processed_rows_per_s > 0 for r in data)
    assert all(r.input_rows_per_s >= 0 for r in data[1:])  # NaN fails
    assert max(r.state_rows_total for r in rec.records) > 0
    assert all(r.state_memory_bytes > 0 for r in data)
    # The watermark starts at the epoch and then follows the event times.
    assert rec.records[-1].watermark > "1970-01-01T00:00:00.000Z"
