"""Shared tokenized projection for the text-quality query group.

Round-1 VERDICT finding: ``quality_histogram``, ``vocab_coverage_stats``,
``vocabulary_drift_flags``, ``repetition_quality_flags`` and
``train_contamination_5gram`` each re-ran ``split(trim(text), '\\s+')``
over the full corpus from scratch — the regex split of every document
was the dominant shared cost (7-10 s each at sf0.1).

:func:`tokenized_documents` computes the split ONCE per
(session, sf_dir) into a cached projection::

    doc_id, source, lang, n_chars, n_alpha, words array<string>

and every group member derives from it.  Downstream array ops
(``size``, ``array_distinct``, ``explode``, n-gram ``zip_with``) read
the cached array instead of re-splitting text.

Scale note (100 TB): an in-memory ``.cache()`` is the local[32]
rendition; on a real cluster this projection is a write-once
intermediate — parquet partitioned on ingest date and bucketed by
``doc_id`` — that the whole text-quality suite (and the dedup
shingling family) reads instead of the raw corpus.  The cache-or-
materialize choice is an artifact of deployment, not of the operator
definitions, which only require "a relation with a ``words`` column".
Storage for ``words`` is ~1x the text itself, so the intermediate is
corpus-sized, not corpus-squared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_cached


def tokenized_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached ``(doc_id, source, lang, n_chars, n_alpha, words)``
    projection of ``documents`` — split/trim/alpha-strip run once per
    (session, scale-factor), reused by every text-quality query.

    ``words`` is exactly ``split(trim(text), '\\s+')`` (DuckDB twin
    ``string_split_regex``): a trimmed-empty text yields ``[""]`` —
    consumers that need the guarded word count use
    :func:`guarded_word_count` on the array, which reproduces
    ``textstats.word_count``'s empty-text → 0 special case.
    """
    def build() -> DataFrame:
        from ..schemas import load_table

        text = F.col("text")
        return load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            "lang",
            F.length(text).alias("n_chars"),
            F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).alias("n_alpha"),
            F.split(F.trim(text), r"\s+").alias("words"),
        )

    return session_cached(spark, ("tokenized_documents", sf_dir), build)


def guarded_word_count(words: F.Column) -> F.Column:
    """Word count with the empty-text guard: ``split(trim(''))`` is
    ``[""]`` (size 1), which ``textstats.word_count`` maps to 0."""
    empty = (F.size(words) == 1) & (F.element_at(words, 1) == "")
    return F.when(empty, 0).otherwise(F.size(words))

