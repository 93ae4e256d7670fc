"""The reference batch jobs' text rules, pinned on hand-built rows:
``spam_indicators`` (``batch/job4_spam.py``), ``extract_mentions``
(``batch/job5_menciones.py``) and ``device_category``
(``batch/job2_historico.py``)."""

from __future__ import annotations

from kafka_bigdata_jobs_spark.operators.text import (
    device_category,
    extract_mentions,
    spam_indicators,
)

INDICATORS = ["has_url", "has_spam_kw", "many_bangs", "shouting",
              "many_mentions"]


def test_spam_indicators_each_alone_and_summed(spark):
    rows = [
        ("hello there", []),
        ("see http://x.io now", ["has_url"]),
        ("visit www.example.com", ["has_url"]),
        ("free stuff here", ["has_spam_kw"]),
        ("you are a Winner", ["has_spam_kw"]),
        ("wow!! nice", ["many_bangs"]),
        ("THIS IS GREAT NEWS", ["shouting"]),
        ("@a @b @c hi", ["many_mentions"]),
        # below each threshold: one bang, 10 chars of capitals, two mentions
        ("wow! nice", []),
        ("HELLO THEM", []),
        ("@a @b hi", []),
        ("FREE!! @A @B @C HTTP://X.IO", INDICATORS),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(rows)], "id int, text string")
    got = {r["id"]: r for r in spam_indicators(
        df, "text", ["free", "winner"]).collect()}
    for i, (text, on) in enumerate(rows):
        r = got[i]
        assert {c: r[c] for c in INDICATORS} == {
            c: int(c in on) for c in INDICATORS}, text
        assert r["spam_score"] == len(on), text


def test_extract_mentions_one_row_per_mention(spark):
    df = spark.createDataFrame(
        [(1, "hi @alice and @bob_2"), (2, "no mentions"), (3, "@carol"),
         (4, None), (5, "mail x@y.com")],
        "id int, text string")
    got = sorted((r["id"], r["mention"])
                 for r in extract_mentions(df, "text").collect())
    assert got == [(1, "@alice"), (1, "@bob_2"), (3, "@carol"), (5, "@y")]


def test_device_category_case_branches(spark):
    cases = [
        ("Twitter for iPhone", "iOS"),
        ("Twitter for iPad", "iOS"),
        ("Twitter for Android", "Android"),
        ("Android Web Client", "Android"),  # earlier branch wins
        ("Twitter Web App", "Web"),
        ("MyBot", "Bot/API"),
        ("Some API client", "Bot/API"),
        ("Automator", "Bot/API"),
        ("TweetDeck", "Other"),
        (None, "Other"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "id int, source string")
    got = {r["id"]: r["device"] for r in df.select(
        "id", device_category("source").alias("device")).collect()}
    assert got == {i: want for i, (_, want) in enumerate(cases)}
