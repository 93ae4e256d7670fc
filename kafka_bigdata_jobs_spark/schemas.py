"""Canonical schemas + table loaders.

The reference declares the identical 15-field tweet StructType in all
five streaming jobs (reference ``streaming/job1_bots.py:108-125``,
``job2.py:109-126``, ``job3_sentiment.py:119-136``,
``job4_locationsreal_time.py:97-114``, ``job5.py:104-121``).  Here it
lives exactly once.  Batch CSV reads in the reference use
``inferSchema`` plus a positional ``_c{i}`` rename loop
(``batch/job1_locations.py:30-37``); we declare explicit schemas instead
so scans prune columns and never pay the inference pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The canonical tweet event record (reference streaming/job1_bots.py:108-125).
#: Stringly-typed timestamp fields stay strings at the wire boundary and are
#: parsed to TimestampType by sources.decode (event time = ``timestamp``).
TWEET_SCHEMA = T.StructType(
    [
        T.StructField("crypto_type", T.StringType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("user_location", T.StringType()),
        T.StructField("user_description", T.StringType()),
        T.StructField("user_created", T.StringType()),
        T.StructField("user_followers", T.IntegerType()),
        T.StructField("user_friends", T.IntegerType()),
        T.StructField("user_favourites", T.IntegerType()),
        T.StructField("user_verified", T.BooleanType()),
        T.StructField("date", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("hashtags", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("is_retweet", T.BooleanType()),
        T.StructField("timestamp", T.StringType()),
    ]
)

#: Headerless bitcoin CSV column order (reference batch/job1_locations.py:30-37):
#: the 13 pre-crypto_type fields, positionally.
BITCOIN_CSV_COLUMNS = [
    "user_name",
    "user_location",
    "user_description",
    "user_created",
    "user_followers",
    "user_friends",
    "user_favourites",
    "user_verified",
    "date",
    "text",
    "hashtags",
    "source",
    "is_retweet",
]

#: Driver test tables (TESTDATA.md / FIXTURES.md §1).
TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver parquet table (column-pruned, pushdown-friendly).

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet footer, which Spark
    cannot map natively; with ``spark.sql.legacy.parquet.nanosAsLong``
    (set by :func:`session.apply_runtime_conf`) it arrives as a nanos
    epoch long and is converted here to a microsecond TimestampType (the
    fixture values are µs-aligned, so the narrowing is lossless).
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer division: `/` would go through double and lose
        # microseconds on 1e18-scale nanosecond epochs.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
