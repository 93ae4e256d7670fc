"""Temporal feature derivation (reference ``batch/job3_patron_temporal.py``).

The reference flips ``spark.sql.legacy.timeParserPolicy=LEGACY``
(``batch/job2_historico.py:15``) to survive its stringly timestamps; we
parse with explicit format strings instead and keep the modern parser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WEEKEND_DAYS = ("Saturday", "Sunday")


def with_temporal_features(
    df: DataFrame,
    ts_col: str,
    hour_col: str = "hour",
    day_col: str = "day_name",
    weekend_col: str = "is_weekend",
    date_col: str = "event_date",
) -> DataFrame:
    """hour / English day-name / weekend flag / date, from a timestamp.

    Reference: ``batch/job3_patron_temporal.py:57-74`` (hour +
    ``date_format(ts,'EEEE')``) and ``:159-162`` (weekend via isin).
    """
    ts = F.col(ts_col)
    return (
        df.withColumn(hour_col, F.hour(ts))
        .withColumn(day_col, F.date_format(ts, "EEEE"))
        .withColumn(weekend_col, F.date_format(ts, "EEEE").isin(*WEEKEND_DAYS))
        .withColumn(date_col, F.to_date(ts))
    )


def multi_resolution_rollup(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    aggs_value_col: str,
) -> DataFrame:
    """Hypertable-style continuous aggregate: minute → hour → day.

    One raw scan builds the minute level; each coarser level
    re-aggregates the FINER level, not the raw table — at 100 TB the
    hour rollup reads the minute rollup (~60× smaller) and the day
    rollup reads hours (~24× smaller again), which is what makes
    continuous aggregates cheap to maintain incrementally.  Counts and
    exact-cents sums re-aggregate losslessly (avg is derivable as
    sum/count downstream).

    Returns the three levels unioned with a ``resolution`` tag and the
    bucket start as ``bucket_ts``.
    """
    from .relational import cents

    minute = (
        df.select(
            F.date_trunc("minute", F.col(ts_col)).alias("bucket_ts"),
            *[F.col(k) for k in keys],
            cents(aggs_value_col).alias("__v_c"),
        )
        .groupBy("bucket_ts", *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__v_c").alias("__sum_c"),
        )
    )

    def _coarsen(finer: DataFrame, unit: str) -> DataFrame:
        return (
            finer.select(
                F.date_trunc(unit, F.col("bucket_ts")).alias("bucket_ts"),
                *[F.col(k) for k in keys],
                "n_events",
                "__sum_c",
            )
            .groupBy("bucket_ts", *keys)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("__sum_c").alias("__sum_c"),
            )
        )

    hour = _coarsen(minute, "hour")
    day = _coarsen(hour, "day")

    def _tag(level: DataFrame, name: str) -> DataFrame:
        return level.select(
            F.lit(name).alias("resolution"),
            "bucket_ts",
            *keys,
            "n_events",
            (F.col("__sum_c") / 100.0).alias("sum_value"),
        )

    return _tag(minute, "minute").unionByName(_tag(hour, "hour")).unionByName(
        _tag(day, "day")
    )
