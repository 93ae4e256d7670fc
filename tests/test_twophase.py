"""two_phase_agg equivalence + snapshot_diff unit coverage."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_bigdata_jobs_spark.operators.relational import snapshot_diff, two_phase_agg
from kafka_bigdata_jobs_spark.schemas import load_table

SF = "/root/testdata/sf0.001"


def test_two_phase_agg_equals_direct(spark):
    ev = load_table(spark, SF, "events")
    direct = {
        (r["event_type"],): (r["n"], r["cents"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    salted = two_phase_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n": (F.count(F.lit(1)), F.sum("n")),
            "cents": (
                F.sum(F.round(F.col("value") * 100).cast("long")),
                F.sum("cents"),
            ),
        },
        salt_buckets=8,
        salt_on="user_id",
    )
    got = {(r["event_type"],): (r["n"], r["cents"]) for r in salted.collect()}
    assert got == direct


def test_snapshot_diff_classifies(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["pk", "s", "v"]
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 99), (4, "d", 40)], ["pk", "s", "v"]
    )
    got = {
        r["pk"]: r["change_type"]
        for r in snapshot_diff(old, new, ["pk"], ["s", "v"]).collect()
    }
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_snapshot_diff_null_safe(spark):
    old = spark.createDataFrame([(1, None, 10)], "pk int, s string, v int")
    new = spark.createDataFrame([(1, None, 10)], "pk int, s string, v int")
    assert snapshot_diff(old, new, ["pk"], ["s", "v"]).count() == 0


def test_snapshot_diff_composite_pk(spark):
    old = spark.createDataFrame(
        [(1, "x", 5), (1, "y", 6), (2, "x", 7)], ["k1", "k2", "v"]
    )
    new = spark.createDataFrame(
        [(1, "x", 5), (1, "y", 60), (3, "z", 8)], ["k1", "k2", "v"]
    )
    got = {
        (r["k1"], r["k2"]): r["change_type"]
        for r in snapshot_diff(old, new, ["k1", "k2"], ["v"]).collect()
    }
    assert got == {(1, "y"): "changed", (2, "x"): "removed", (3, "z"): "added"}


def test_two_phase_agg_without_salt_column(spark):
    """salt_on=None falls back to monotonically_increasing_id — still
    exactly equal to the direct aggregate within a run."""
    df = spark.createDataFrame(
        [("a", i) for i in range(100)] + [("b", i) for i in range(7)], ["k", "v"]
    )
    direct = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = two_phase_agg(
        df,
        keys=["k"],
        aggs={
            "n": (F.count(F.lit(1)), F.sum("n")),
            "s": (F.sum("v"), F.sum("s")),
        },
        salt_buckets=4,
    )
    got = {r["k"]: (r["n"], r["s"]) for r in salted.collect()}
    assert got == direct


def test_series_corr_gram_equals_join(spark):
    """Blocked-Gram pairing emits the same exact integer sums as the
    bucket equi-join, so the final top-k is bit-equal."""
    from kafka_bigdata_jobs_spark.operators.stats import (
        series_corr_pairs,
        series_corr_pairs_gram,
    )
    from kafka_bigdata_jobs_spark.schemas import load_table

    ev = load_table(spark, SF, "events")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    a = series_corr_pairs(daily, "user_id", "day", "cents", 5, 10).collect()
    b = series_corr_pairs_gram(daily, "user_id", "day", "cents", 5, 10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def _planted_series(spark):
    """60 keys × 20 days: keys 0/1 co-move (scaled copies + tiny jitter),
    the rest are deterministic pseudo-random walks."""
    rows = []
    for k in range(60):
        for d in range(20):
            day = f"2024-01-{d + 1:02d}"
            if k in (0, 1):
                base = 1000 + 500 * ((d * 7) % 13)  # shared shape
                v = base * (1 + k) + (k * d) % 3    # scale + jitter
            else:
                v = 100 + ((k * 2654435761 + d * 40503) % 9973)
            rows.append((k, day, v))
    return spark.createDataFrame(rows, "k long, day string, v long")


def test_banded_prefilter_recovers_planted_pair(spark):
    """The SAX-banded funnel's contract: a strongly co-moving pair
    survives the prefilter, and its corr is EXACT (bit-equal to the
    all-pairs path's value for that pair)."""
    from kafka_bigdata_jobs_spark.operators.stats import (
        series_corr_pairs,
        series_corr_pairs_banded,
    )

    df = _planted_series(spark)
    banded = series_corr_pairs_banded(df, "k", "day", "v", 5, 5).collect()
    assert banded, "funnel returned nothing"
    top = banded[0]
    assert (top["key_a"], top["key_b"]) == (0, 1)
    exact = {
        (r["key_a"], r["key_b"]): r["corr"]
        for r in series_corr_pairs(df, "k", "day", "v", 5, 60 * 59).collect()
    }
    assert top["corr"] == exact[(0, 1)]


def test_banded_pairs_are_subset_exact(spark):
    """Fuzz the funnel's core contract on random series: every pair the
    banded path emits carries EXACTLY the corr the all-pairs path
    computes for that pair (coverage is approximate, values never are)."""
    import random

    from kafka_bigdata_jobs_spark.operators.stats import (
        series_corr_pairs,
        series_corr_pairs_banded,
    )

    for seed in (3, 11):
        rng = random.Random(seed)
        rows = [
            (k, f"2024-02-{d + 1:02d}", rng.randint(-500, 500))
            for k in range(40)
            for d in range(16)
            if rng.random() < 0.9  # ragged coverage: some missing buckets
        ]
        df = spark.createDataFrame(rows, "k long, day string, v long")
        exact = {
            (r["key_a"], r["key_b"]): (r["n"], r["corr"])
            for r in series_corr_pairs(df, "k", "day", "v", 5, 10_000).collect()
        }
        banded = series_corr_pairs_banded(df, "k", "day", "v", 5, 10_000)
        for r in banded.collect():
            pair = (r["key_a"], r["key_b"])
            assert pair in exact, f"banded emitted non-exact pair {pair}"
            assert (r["n"], r["corr"]) == exact[pair], pair


def test_auto_dispatch_cutover_boundary(spark, monkeypatch):
    """At/below the key-count limit (EXACT_PAIR_KEY_LIMIT) the exact
    Gram runs (all-pairs output); above it the banded funnel runs
    (subset, planted pair still on top)."""
    from kafka_bigdata_jobs_spark.operators import stats
    from kafka_bigdata_jobs_spark.operators.stats import (
        series_corr_pairs,
        series_corr_pairs_auto,
    )

    calls = []
    real = stats.series_corr_pairs_banded
    monkeypatch.setattr(stats, "series_corr_pairs_banded",
                        lambda *a, **kw: calls.append(1) or real(*a, **kw))
    df = _planted_series(spark)  # 60 distinct keys
    exact = series_corr_pairs(df, "k", "day", "v", 5, 10).collect()
    monkeypatch.setattr(stats, "EXACT_PAIR_KEY_LIMIT", 60)
    at_limit = series_corr_pairs_auto(df, "k", "day", "v", 5, 10).collect()
    assert not calls
    assert [tuple(r) for r in at_limit] == [tuple(r) for r in exact]
    monkeypatch.setattr(stats, "EXACT_PAIR_KEY_LIMIT", 59)
    above = series_corr_pairs_auto(df, "k", "day", "v", 5, 10).collect()
    assert calls == [1]
    assert (above[0]["key_a"], above[0]["key_b"]) == (0, 1)
    assert above[0]["corr"] == exact[0]["corr"]
