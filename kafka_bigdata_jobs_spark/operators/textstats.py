"""Training-data text analysis: language-ID, quality score, token
counts, document fingerprinting.

All expression-compiled (whole-stage codegen, no Python in the hot
path); each has an exact ANSI-SQL twin so the DuckDB oracle can check
it.  These are the "beyond-reference" operators a 100 TB text pipeline
needs on top of the reference's tweet analytics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish tokenizer: word pieces or single non-space symbols.
TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

#: Tiny stopword profiles for n-gram/stopword-hit language scoring.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "value", "data"),
    "es": ("el", "la", "de", "que", "los", "por"),
    "fr": ("le", "la", "les", "des", "une", "est"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
}


def word_count(text: Column) -> Column:
    return F.when(F.trim(text) == "", 0).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def token_count(text: Column) -> Column:
    """Token count under the BPE-ish regex (SQL twin:
    ``len(regexp_extract_all(text, pattern))``)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    """How many tokens are in ``words`` — whole-word regex alternation
    count, identical semantics in Spark and DuckDB."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, prof) for lang, prof in LANG_PROFILES.items()}


def predict_lang(text: Column) -> Column:
    """Argmax over stopword-profile hit counts, ties broken by language
    code order (deterministic); 'und' (undetermined) when no profile
    hits at all."""
    scores = lang_scores(text)
    # Process alphabetically; replacement requires a strictly greater
    # score, so the alphabetically-first language wins ties.
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, score in sorted(scores.items()):
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def quality_score_from_parts(
    length: Column, n_words: Column, n_distinct: Column, n_alpha: Column
) -> Column:
    """0–100 heuristic quality score from precomputed text statistics —
    the form the shared tokenized projection (``textproj.py``) feeds.

    Components (each 0–25): length band, mean word length band, unique-
    word ratio, alphabetic ratio.  Integer arithmetic end-to-end so the
    oracle matches exactly.
    """
    len_pts = (
        F.when((length >= 100) & (length <= 400), 25)
        .when((length >= 50) & (length < 100), 15)
        .when(length > 400, 10)
        .otherwise(0)
    )
    mean_wlen_x10 = F.when(n_words > 0, (length * 10) / n_words).otherwise(F.lit(0.0))
    wlen_pts = (
        F.when((mean_wlen_x10 >= 35) & (mean_wlen_x10 <= 80), 25)
        .when(mean_wlen_x10 > 0, 10)
        .otherwise(0)
    )
    uniq_ratio_x100 = F.when(n_words > 0, (n_distinct * 100) / n_words).otherwise(
        F.lit(0.0)
    )
    uniq_pts = (
        F.when(uniq_ratio_x100 >= 50, 25)
        .when(uniq_ratio_x100 >= 20, 15)
        .otherwise(5)
    )
    alpha_ratio_x100 = F.when(length > 0, (n_alpha * 100) / length).otherwise(
        F.lit(0.0)
    )
    alpha_pts = (
        F.when(alpha_ratio_x100 >= 70, 25)
        .when(alpha_ratio_x100 >= 40, 15)
        .otherwise(0)
    )
    return (len_pts + wlen_pts + uniq_pts + alpha_pts).cast("int")


def quality_score(text: Column, n_words: Column | None = None) -> Column:
    """0–100 heuristic quality score straight from a text column (see
    :func:`quality_score_from_parts` for the component bands)."""
    wc = n_words if n_words is not None else word_count(text)
    return quality_score_from_parts(
        F.length(text),
        wc,
        F.size(F.array_distinct(F.split(F.trim(text), r"\s+"))),
        F.length(F.regexp_replace(text, r"[^A-Za-z]", "")),
    )


def doc_fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint: md5 of whitespace-normalized
    lowercase text.  md5 exists in both Spark and DuckDB, so fingerprint
    values themselves are oracle-checkable (unlike xxhash64, whose seeds
    differ across engines)."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, window: int = 16
) -> DataFrame:
    """Winnowing document fingerprints (rolling k-gram window minima).

    The standard local fingerprinting scheme (Schleimer et al.,
    SIGMOD'03 — public algorithm): hash every k-gram, slide a window of
    ``window`` consecutive hashes, keep each window's minimum, distinct
    the kept hashes per document.  Guarantees: any shared substring of
    length ≥ k + window − 1 yields at least one shared fingerprint, so
    fingerprint overlap lower-bounds copied content — the rolling-hash
    complement to whole-document md5 (:func:`doc_fingerprint`) and
    set-similarity MinHash (``dedup.py``).

    Engine notes: k-grams via explode(sequence) + substr (whole-stage
    codegen, same shape as char_shingle_rows); the window minimum is a
    single ranking-window pass partitioned by document — one shuffle on
    the doc key.  The hash is the md5-hex prefix: engine-portable
    (exact DuckDB twin) and ordered lexicographically identically, at
    the cost of ~2× the bytes of a 32-bit int — acceptable because the
    fingerprint set is ~|text|/window per doc.

    Returns distinct ``(id_col, fp)`` rows.
    """
    from pyspark.sql.window import Window

    n_grams = F.length(F.col(text_col)) - k + 1
    g = df.select(
        F.col(id_col),
        F.col(text_col),
        n_grams.alias("__n"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("__pos"),
    )
    h = g.select(
        F.col(id_col),
        F.col("__n"),
        F.col("__pos"),
        F.substring(F.md5(F.substr(F.col(text_col), F.col("__pos"), F.lit(k))), 1, 8).alias(
            "__gh"
        ),
    )
    win = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, window - 1)
    fps = (
        h.withColumn("__fp", F.min("__gh").over(win))
        .where(F.col("__pos") <= F.col("__n") - (window - 1))
        .select(F.col(id_col), F.col("__fp").alias("fp"))
        .distinct()
    )
    return fps


def char_entropy_micro(text: Column) -> Column:
    """Quantized Shannon entropy (micro-nats) of the LETTER distribution
    of ``text`` — the gibberish/keyboard-mash detector: natural prose
    sits near the language's letter entropy, repeated-character junk
    collapses toward 0, uniform noise pushes toward ln(26) ≈ 3.258.

    Scale + exactness design: NO explode and NO shuffle — per-letter
    counts come from 26 ``length(text) - length(replace(text, ch))``
    expressions, so the whole feature is one projection.  True entropy
    ``ln n − (Σ c·ln c)/n`` sums doubles in engine-dependent order; the
    quantized estimator instead rounds each term first::

        H_micro = round(1e6·ln n) − (Σ_ch round(1e6·c_ch·ln c_ch)) div n

    Every addend is an integer, so the sum is order-independent and
    cross-engine value-hashable (same double ``ln`` of the same
    integer in both engines; boundary margins pinned by
    tests/test_entropy.py).  Bias vs true entropy is ≤ ~13 micro-nats
    (26 half-up roundings / n plus one floor division) — documented,
    far below any quality-threshold granularity.  Letterless text →
    NULL.
    """
    lowered = F.lower(text)

    def count(ch: str) -> Column:
        return (
            F.length(lowered) - F.length(F.replace(lowered, F.lit(ch), F.lit("")))
        ).cast("long")

    letters = "abcdefghijklmnopqrstuvwxyz"
    n = count(letters[0])
    for ch in letters[1:]:
        n = n + count(ch)

    def term(ch: str) -> Column:
        c = count(ch)
        return F.when(
            c > 1,
            F.round(F.lit(1000000.0) * c.cast("double") * F.log(c.cast("double")))
            .cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    total = term(letters[0])
    for ch in letters[1:]:
        total = total + term(ch)

    ln_n = F.round(F.lit(1000000.0) * F.log(n.cast("double"))).cast("long")
    # floor(double-division) here IS exact integer division: total ≤
    # ~3.3e12 < 2^53 is an exact double, and a non-integer quotient
    # sits ≥ 1/n ≥ 1e-6 from any integer while the division error is
    # ~4e-10 — so floor can't misround (the DuckDB twin uses BIGINT //).
    return F.when(n > 0, ln_n - F.floor(total / n).cast("long")).otherwise(
        F.lit(None).cast("long")
    )
