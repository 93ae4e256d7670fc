"""Text analytics operators: token extraction, word stats, spam scoring.

Expression-first (no Python UDFs in the hot path): every function here
compiles to Catalyst expressions that run inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MENTION_PATTERN = r"@\w+"
URL_PATTERN = r"(?i)https?://\S+|www\.\S+"


def extract_hashtags(
    df: DataFrame, hashtags_col: str, out_col: str = "hashtag"
) -> DataFrame:
    """Stringly list ``"['btc', 'eth']"`` → one lowercase hashtag per row.

    Reference: ``streaming/job2.py:144-171`` (regexp_replace to strip
    ``[ ] '`` then split on comma, explode, lower/trim, drop empties).
    """
    cleaned = F.regexp_replace(F.col(hashtags_col), r"[\[\]']", "")
    # explode must be a top-level select expression (generators can't
    # nest inside other functions); normalize afterwards.
    exploded = (
        df.where(F.col(hashtags_col).isNotNull() & (F.col(hashtags_col) != "[]"))
        .select("*", F.explode(F.split(cleaned, ",")).alias("__raw_tag"))
    )
    return (
        exploded.withColumn(out_col, F.lower(F.trim(F.col("__raw_tag"))))
        .drop("__raw_tag")
        .where((F.col(out_col) != "") & F.col(out_col).isNotNull())
    )


def extract_mentions(
    df: DataFrame, text_col: str, out_col: str = "mention"
) -> DataFrame:
    """``@mention`` extraction + explode (reference
    ``batch/job5_menciones.py:75-83`` via ``expr('regexp_extract_all')``;
    we call ``F.regexp_extract_all`` directly — SURVEY.md §2.9)."""
    mentions = F.regexp_extract_all(F.col(text_col), F.lit(MENTION_PATTERN), 0)
    return (
        df.withColumn("__mentions", mentions)
        .where(F.size("__mentions") > 0)
        .select("*", F.explode("__mentions").alias(out_col))
        .drop("__mentions")
    )


def extract_words(
    df: DataFrame, text_col: str, out_col: str = "word", min_len: int = 1
) -> DataFrame:
    """Whitespace tokenization + explode (reference
    ``batch/job4_spam.py:98-101`` word split)."""
    word = F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(out_col)
    out = df.where(F.col(text_col).isNotNull()).select("*", word)
    return out.where(F.length(F.col(out_col)) >= min_len)


def spam_indicators(
    df: DataFrame,
    text_col: str,
    keywords: Sequence[str],
    score_col: str = "spam_score",
) -> DataFrame:
    """Additive boolean-indicator spam score.

    Reference ``batch/job4_spam.py:81-105,174-199``: URL regex, spam-
    keyword alternation, excessive punctuation, shouting, repetition —
    each a 0/1 indicator, summed into a score.  Compiled here to one
    integer column expression (oracle-checkable SQL, no UDF).
    """
    t = F.col(text_col)
    kw_alt = "(?i)" + "|".join(keywords)
    has_url = t.rlike(URL_PATTERN).cast("int")
    has_kw = t.rlike(kw_alt).cast("int")
    many_bangs = (t.rlike(r"!{2,}")).cast("int")
    shouting = (
        (F.length(F.regexp_replace(t, r"[^A-Z]", "")) * 2 > F.length(t))
        & (F.length(t) > 10)
    ).cast("int")
    many_mentions = (F.size(F.regexp_extract_all(t, F.lit(MENTION_PATTERN), 0)) >= 3).cast(
        "int"
    )
    return (
        df.withColumn("has_url", has_url)
        .withColumn("has_spam_kw", has_kw)
        .withColumn("many_bangs", many_bangs)
        .withColumn("shouting", shouting)
        .withColumn("many_mentions", many_mentions)
        .withColumn(
            score_col,
            has_url + has_kw + many_bangs + shouting + many_mentions,
        )
    )


def device_category(source_col: str) -> Column:
    """Client-device CASE ladder (reference
    ``batch/job2_historico.py:147-158``): a chained multi-way
    ``when/otherwise`` over substring membership."""
    s = F.lower(F.col(source_col))
    return (
        F.when(s.contains("iphone") | s.contains("ipad"), "iOS")
        .when(s.contains("android"), "Android")
        .when(s.contains("web"), "Web")
        .when(s.contains("bot") | s.contains("api") | s.contains("automat"), "Bot/API")
        .otherwise("Other")
    )
