"""Stream-stream interval join + streaming dedup, asserted against
their batch twins."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_bigdata_jobs_spark.schemas import load_table
from kafka_bigdata_jobs_spark.sources.stream_files import read_parquet_stream
from kafka_bigdata_jobs_spark.streaming.joins import dedup_within_watermark, interval_join
from kafka_bigdata_jobs_spark.streaming.runner import MemorySink, run_multi_sink

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    d = tempfile.mkdtemp(prefix="sj_events_")
    load_table(spark, SF, "events").coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _schema():
    from tests.test_streaming import EVENTS_SCHEMA

    return EVENTS_SCHEMA


def _funnel(clicks, purchases):
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return interval_join(
        c, p, "click_ts", "purchase_ts",
        on=F.col("c_user") == F.col("p_user"),
        interval="30 minutes",
    ).select("click_id", "purchase_id")


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    ev = load_table(spark, SF, "events")
    batch_pairs = {
        (r["click_id"], r["purchase_id"])
        for r in _funnel(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert batch_pairs, "no funnel pairs in fixture"

    s1 = read_parquet_stream(spark, events_dir, _schema()).where(
        F.col("event_type") == "click"
    )
    s2 = read_parquet_stream(spark, events_dir, _schema()).where(
        F.col("event_type") == "purchase"
    )
    sink = MemorySink(limit_per_batch=1_000_000)
    with tempfile.TemporaryDirectory() as ckpt:
        q = run_multi_sink(_funnel(s1, s2), [sink], checkpoint=ckpt)
        q.awaitTermination(180)
    got = {(r["click_id"], r["purchase_id"]) for r in sink.rows}
    # single availableNow batch, zero lateness → exact equality
    assert got == batch_pairs


def test_dedup_within_watermark_stream(spark, events_dir):
    ev = load_table(spark, SF, "events")
    expected = ev.dropDuplicates(["user_id", "event_type"]).count()

    stream = read_parquet_stream(spark, events_dir, _schema())
    sink = MemorySink(limit_per_batch=1_000_000)
    with tempfile.TemporaryDirectory() as ckpt:
        q = run_multi_sink(
            dedup_within_watermark(
                stream, ["user_id", "event_type"], "ts", delay="40 days"
            ),
            [sink],
            checkpoint=ckpt,
        )
        q.awaitTermination(180)
    # watermark horizon spans the whole fixture → exactly one survivor
    # per key, same cardinality as batch dropDuplicates
    assert len(sink.rows) == expected
    keys = {(r["user_id"], r["event_type"]) for r in sink.rows}
    assert len(keys) == expected


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    from kafka_bigdata_jobs_spark.streaming.joins import enrich_with_dim

    ev = load_table(spark, SF, "events")
    # tiny dimension derived from the fixture: user_id -> purchase count
    dim = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    batch = {
        (r["event_id"], r["n_purchases"])
        for r in enrich_with_dim(
            ev, dim.withColumnRenamed("user_id", "d_user"),
            F.col("user_id") == F.col("d_user"),
        ).select("event_id", "n_purchases").collect()
    }

    stream = read_parquet_stream(spark, events_dir, _schema())
    sink = MemorySink(limit_per_batch=1_000_000)
    with tempfile.TemporaryDirectory() as ckpt:
        q = run_multi_sink(
            enrich_with_dim(
                stream, dim.withColumnRenamed("user_id", "d_user"),
                F.col("user_id") == F.col("d_user"),
            ).select("event_id", "n_purchases"),
            [sink],
            checkpoint=ckpt,
        )
        q.awaitTermination(180)
    got = {(r["event_id"], r["n_purchases"]) for r in sink.rows}
    assert got == batch
