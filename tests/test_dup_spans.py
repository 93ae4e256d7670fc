"""Cross-document duplicate-span operator (substring-grain dedup,
Lee et al. 2022 re-expressed relationally): spans are maximal runs of
consecutive word n-gram positions whose n-gram occurs in >= min_docs
distinct documents.  Ground truth is a brute-force pure-Python twin.
"""

from __future__ import annotations

import pytest

from kafka_bigdata_jobs_spark.operators.dedup import duplicate_span_rows


def _brute_spans(docs: dict[int, list[str]], n: int, min_docs: int):
    """Reference: dict id -> list of (span_start, span_len)."""
    grams: dict[int, list[str]] = {
        i: [" ".join(ws[p : p + n]) for p in range(max(len(ws) - n + 1, 0))]
        for i, ws in docs.items()
    }
    owners: dict[str, set[int]] = {}
    for i, gs in grams.items():
        for g in gs:
            owners.setdefault(g, set()).add(i)
    spans: dict[int, list[tuple[int, int]]] = {}
    for i, gs in grams.items():
        marked = [p for p, g in enumerate(gs) if len(owners[g]) >= min_docs]
        runs, start, prev = [], None, None
        for p in marked:
            if start is None:
                start, prev = p, p
            elif p == prev + 1:
                prev = p
            else:
                runs.append((start, prev - start + 1))
                start, prev = p, p
        if start is not None:
            runs.append((start, prev - start + 1))
        if runs:
            spans[i] = runs
    return spans


def _collect(df):
    out: dict[int, list[tuple[int, int]]] = {}
    for r in df.collect():
        out.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_len"])
        )
    return {k: sorted(v) for k, v in out.items()}


WORDS = [f"w{i}" for i in range(40)]


@pytest.fixture()
def docs_df(spark):
    docs = {
        # A and B share words 10..24 (15 words -> 8 consecutive dup
        # 8-gram positions in each, merged into ONE span).
        1: WORDS[:25],
        2: WORDS[10:25] + ["x1", "x2", "x3", "x4", "x5"],
        # C shares a shorter run 10..19 with A and B (10 words -> 3
        # dup positions) plus its own unique tail.
        3: WORDS[10:20] + ["y1", "y2", "y3"],
        # D: unrelated words, no spans.
        4: [f"z{i}" for i in range(15)],
        # E: shorter than n, no positions at all.
        5: ["a", "b", "c"],
    }
    df = spark.createDataFrame(
        [(i, "en", ws) for i, ws in docs.items()],
        "doc_id long, lang string, words array<string>",
    )
    return docs, df


def test_matches_bruteforce_twin(docs_df):
    docs, df = docs_df
    got = _collect(duplicate_span_rows(df, "doc_id", "words", n=8))
    want = {k: sorted(v) for k, v in _brute_spans(docs, 8, 2).items()}
    assert got == want


def test_consecutive_positions_merge_into_one_span(docs_df):
    docs, df = docs_df
    got = _collect(duplicate_span_rows(df, "doc_id", "words", n=8))
    # Doc 2 starts AT the shared block: its 8 dup positions are 0..7.
    assert got[2] == [(0, 8)]
    # Doc 1's shared block starts at word 10 -> positions 10..17.
    assert got[1] == [(10, 8)]
    # Docs 4 (unique) and 5 (< n words) emit nothing.
    assert 4 not in got and 5 not in got


def test_min_docs_threshold(docs_df):
    docs, df = docs_df
    got3 = _collect(duplicate_span_rows(df, "doc_id", "words", n=8, min_docs=3))
    want3 = {k: sorted(v) for k, v in _brute_spans(docs, 8, 3).items()}
    assert got3 == want3
    # Words 10..19 are in all three docs: only the 3 positions whose
    # whole 8-gram sits inside that 10-word run survive min_docs=3.
    assert got3[3] == [(0, 3)]


def test_carry_columns_ride_through(docs_df):
    _docs, df = docs_df
    rows = duplicate_span_rows(
        df, "doc_id", "words", n=8, carry=("lang",)
    ).collect()
    assert rows and all(r["lang"] == "en" for r in rows)
    assert set(rows[0].asDict()) == {
        "doc_id", "lang", "span_start", "span_len",
    }


def test_gap_between_runs_yields_two_spans(spark):
    # Shared 8-gram blocks at positions 0..7 and 20..27 of doc 1, with
    # unique filler between: exactly two spans, not one.
    a = WORDS[:8] + [f"u{i}" for i in range(12)] + WORDS[8:16] + ["u99"]
    b = WORDS[:8] + ["v1"] + WORDS[8:16]
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, words array<string>"
    )
    got = _collect(duplicate_span_rows(df, "doc_id", "words", n=8))
    assert got[1] == [(0, 1), (20, 1)]
    assert got[2] == [(0, 1), (9, 1)]


def test_suite_queries_match_oracle(spark):
    from kafka_bigdata_jobs_spark import suite
    from tests.oracle_harness import compare, duckdb_conn

    sf = "/root/testdata/sf0.001"
    con = duckdb_conn(sf)
    for name in (
        "dup_span_profile",
        "dup_span_top_docs",
        "substring_dedup_retention",
    ):
        q = suite.registry()[name]
        assert compare(q.fn(spark, sf), con, q.oracle) == [], name


def test_degenerate_language_agrees_across_engines(spark, tmp_path):
    """A language whose documents are ALL shorter than n (zero 8-gram
    positions) and one with only empty texts: dup_bp/removed_bp must be
    0 on BOTH engines — the GREATEST(denominator, 1) guard prevents the
    Spark-NULL-vs-DuckDB-division-error divergence class the round-2
    advisor flagged on trend slopes."""
    import duckdb

    from kafka_bigdata_jobs_spark import suite
    from kafka_bigdata_jobs_spark.session import forget
    from tests.oracle_harness import compare

    rows = [
        (1, "web", "xx", "tiny doc"),            # 2 words < 8
        (2, "web", "xx", "three little words"),
        (3, "web", "yy", "   "),                 # trimmed-empty
        # one healthy lang so the dup machinery has real work
        (4, "web", "en", " ".join(f"w{i}" for i in range(20))),
        (5, "web", "en", " ".join(f"w{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    forget(spark, "tokenized_documents")  # no other sf_dir's projection
    try:
        for name in ("dup_span_profile", "substring_dedup_retention"):
            q = suite.registry()[name]
            assert compare(q.fn(spark, sf), con, q.oracle) == [], name
            got = {r["lang"]: r for r in q.fn(spark, sf).collect()}
            bp = "dup_bp" if name == "dup_span_profile" else "removed_bp"
            assert got["xx"][bp] == 0 and got["yy"][bp] == 0
            assert got["en"][bp] > 0  # docs 4/5 are full duplicates
    finally:
        forget(spark, "tokenized_documents")


# -- randomized property: both operators vs their pure-Python twins --------


def test_random_corpora_match_twins(spark):
    """Tiny-alphabet random corpora force heavy shingle collisions —
    repeated shingles within a doc, adjacent islands, full-doc covers —
    the edge cases hand fixtures under-sample.  Deterministic seed;
    one Spark round-trip for all corpora (cheap)."""
    import random

    from pyspark.sql import functions as F

    from kafka_bigdata_jobs_spark.operators.dedup import (
        duplicate_span_rows,
        redundant_span_cuts,
    )

    rng = random.Random(20260814)
    n = 3  # small n so collisions are dense
    corpora = []
    for _ in range(6):
        docs = {
            i: [f"t{rng.randrange(4)}" for _ in range(rng.randrange(0, 25))]
            for i in range(1, 1 + rng.randrange(2, 7))
        }
        corpora.append(docs)
    # One DataFrame, corpus discriminator in the id's high bits so a
    # single Spark job covers all corpora without cross-talk.
    rows = [
        (c_idx * 1000 + i, ws)
        for c_idx, docs in enumerate(corpora)
        for i, ws in docs.items()
    ]
    df = spark.createDataFrame(rows, "doc_id long, words array<string>")
    # NOTE: pooling corpora into one frame would let shingles collide
    # ACROSS corpora; instead run per-corpus via the discriminator
    # filter (still lazy, one session).
    for c_idx, docs in enumerate(corpora):
        sub = df.where(
            (F.col("doc_id") >= c_idx * 1000)
            & (F.col("doc_id") < (c_idx + 1) * 1000)
        )
        got_spans = {
            k - c_idx * 1000: v
            for k, v in _collect(
                duplicate_span_rows(sub, "doc_id", "words", n=n)
            ).items()
        }
        want_spans = {
            k: sorted(v) for k, v in _brute_spans(docs, n, 2).items()
        }
        assert got_spans == want_spans, f"spans corpus {c_idx}"
        got_cuts = {
            k - c_idx * 1000: v
            for k, v in _collect_cuts(
                redundant_span_cuts(sub, "doc_id", "words", n=n)
            ).items()
        }
        want_cuts = {k: sorted(v) for k, v in _brute_cuts(docs, n).items()}
        assert got_cuts == want_cuts, f"cuts corpus {c_idx}"


# -- removal step (redundant_span_cuts) -------------------------------------


def _brute_cuts(docs: dict[int, list[str]], n: int):
    """Reference: dict id -> list of (cut_start, cut_words) under the
    min-id survivor rule with interval union."""
    grams = {
        i: [" ".join(ws[p : p + n]) for p in range(max(len(ws) - n + 1, 0))]
        for i, ws in docs.items()
    }
    canon: dict[str, int] = {}
    for i in sorted(grams):
        for g in grams[i]:
            canon.setdefault(g, i)
    cuts: dict[int, list[tuple[int, int]]] = {}
    for i, gs in grams.items():
        red = [p for p, g in enumerate(gs) if canon[g] < i]
        runs, start, prev = [], None, None
        for p in red:
            if start is None:
                start, prev = p, p
            elif p - prev <= n - 1:
                prev = p
            else:
                runs.append((start, prev - start + n))
                start, prev = p, p
        if start is not None:
            runs.append((start, prev - start + n))
        if runs:
            cuts[i] = runs
    return cuts


def _collect_cuts(df):
    out: dict[int, list[tuple[int, int]]] = {}
    for r in df.collect():
        out.setdefault(r["doc_id"], []).append(
            (r["cut_start"], r["cut_words"])
        )
    return {k: sorted(v) for k, v in out.items()}


def test_cuts_match_bruteforce_twin(docs_df):
    from kafka_bigdata_jobs_spark.operators.dedup import redundant_span_cuts

    docs, df = docs_df
    got = _collect_cuts(redundant_span_cuts(df, "doc_id", "words", n=8))
    want = {k: sorted(v) for k, v in _brute_cuts(docs, 8).items()}
    assert got == want
    # The canonical (min-id) document keeps everything.
    assert 1 not in got
    # Doc 2's 8 redundant positions 0..7 union into ONE 15-word cut —
    # exactly the shared block, no double counting.
    assert got[2] == [(0, 15)]


def test_gapped_redundant_positions_union_into_one_cut(spark):
    from kafka_bigdata_jobs_spark.operators.dedup import redundant_span_cuts

    # doc 3 = X8 + Z8.  doc 1 owns X8 (-> pos 0 redundant); doc 2 owns
    # exactly doc 3's gram at pos 7 (words 7..14).  Positions 1..6 are
    # unique, so redundant positions {0, 7} sit 7 apart — within the
    # n-1 overlap window, so their covers [0,8) and [7,15) UNION into
    # one 15-word cut, not two 8-word cuts (no double counting).
    x8 = [f"x{i}" for i in range(8)]
    z8 = [f"z{i}" for i in range(8)]
    d3 = x8 + z8
    docs = {1: x8, 2: d3[7:15], 3: d3}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, words array<string>"
    )
    got = _collect_cuts(redundant_span_cuts(df, "doc_id", "words", n=8))
    assert got == {k: sorted(v) for k, v in _brute_cuts(docs, 8).items()}
    assert got[3] == [(0, 15)]
    # doc 2's single gram is owned by itself (doc 3 has the larger id),
    # so doc 2 keeps everything.
    assert 2 not in got
