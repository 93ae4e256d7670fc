"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point — these must run over 100 TB of text):

- **exact**: one shuffle on the content fingerprint, keep the minimum id
  per group (deterministic survivor).
- **MinHash+LSH**: O(n) signature computation (expression-only, JVM
  codegen), then candidate generation by banding — a self-equi-join on
  ``(band_id, band_hash)``, which Catalyst executes as a shuffle join on
  a high-cardinality key.  Nothing is O(n²): only colliding candidates
  pay the exact-Jaccard verification.
- **SimHash**: 64-bit signature folded entirely in expressions
  (aggregate over token hash bit-votes), then banded hamming join.

Candidate verification uses exact set Jaccard (array_intersect), so LSH
parameters only affect recall, never precision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import doc_fingerprint


# -- exact ------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Drop exact duplicates (after whitespace/case normalization),
    keeping the smallest id per content group (deterministic, unlike
    ``dropDuplicates`` which keeps an arbitrary row)."""
    from pyspark.sql.window import Window

    fp = doc_fingerprint(F.col(text_col))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str, delay: str = "2 minutes"
) -> DataFrame:
    """First-seen-per-key dedup, one implementation for both modes.

    Streaming: ``withWatermark(ts) + dropDuplicatesWithinWatermark`` —
    a key's dedup state is evicted once the watermark passes its event
    time + ``delay``, so state stays bounded no matter how long the
    stream runs (plain ``dropDuplicates`` on a stream retains every key
    ever seen).  At 100 TB/day of events this is the only viable exact
    streaming dedup: state ∝ keys per ``delay`` window, not keys ever.

    Batch: global ``dropDuplicates(keys)`` on the same columns — the
    golden output whenever duplicate pairs arrive within ``delay`` of
    each other in event time (re-delivery/at-least-once duplicates, the
    case this operator exists for).  Duplicates farther apart are
    deliberately re-admitted by the streaming variant: that's the
    bounded-state trade the watermark contract makes explicit.
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def dedup_by_keys(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key combination — the row with the
    smallest ``order_col`` (deterministic; ``dropDuplicates`` keeps an
    arbitrary one, which can't be oracle-checked)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# -- shingling --------------------------------------------------------------


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-character shingles as an array column.

    SQL twin: ``list_distinct(list_transform(range(length(t)-k+1),
    i -> substr(t, i+1, k)))``.  HOF transform evaluates interpreted —
    fine for the (small) verification set; the signature path uses the
    codegen-friendly :func:`char_shingle_rows` instead.
    """
    idx = F.sequence(F.lit(0), F.length(text) - k)
    return F.array_distinct(
        F.transform(idx, lambda i: text.substr(i + 1, F.lit(k)))
    )


def char_shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    carry: list[str] | None = None,
) -> DataFrame:
    """One row per (id, k-char shingle position) — explode a position
    sequence then substring, which stays in whole-stage codegen (array
    ``transform`` lambdas are interpreted per element and dominated the
    minhash runtime).  Duplicates are NOT removed: min-aggregation over
    a multiset equals min over its set, so signatures are unaffected.
    ``carry`` columns ride along per shingle row (constant per id)."""
    t = F.col(text_col)
    extra = carry or []
    return df.select(
        F.col(id_col),
        *extra,
        F.explode(F.sequence(F.lit(0), F.length(t) - k)).alias("__i"),
        t.alias("__t"),
    ).select(
        id_col,
        *extra,
        F.col("__t").substr(F.col("__i") + 1, F.lit(k)).alias("__s"),
    )


def word_ngram_rows(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """One row per (id, word n-gram), codegen-friendly (see
    :func:`char_shingle_rows`)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    exploded = df.select(
        F.col(id_col),
        words.alias("__w"),
    ).select(
        id_col,
        F.col("__w"),
        F.explode(F.sequence(F.lit(0), F.size("__w") - n)).alias("__i"),
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("__w"), F.col("__i") + j + 1) for j in range(n)]
    )
    return exploded.select(id_col, gram.alias("__s"))


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Distinct word n-grams (space-joined) — zip_with chain over
    shifted slices (quality.ngrams_zip); the transform+element_at
    formulation re-evaluates the split per element interpreted, ~10x
    slower (see ngrams_zip docstring)."""
    from .quality import ngrams_zip

    return F.array_distinct(ngrams_zip(F.split(F.trim(text), r"\s+"), n))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) array columns."""
    inter = F.size(F.array_intersect(a, b))
    return inter * 1.0 / (F.size(a) + F.size(b) - inter)


def word_segment_rows(
    df: DataFrame, id_col: str, words_col: str, seg_len: int = 20
) -> DataFrame:
    """Explode each document into consecutive fixed-length word
    segments: ``(id, seg_idx, segment)`` with ``segment`` the
    space-joined run of exactly ``seg_len`` words starting at word
    offset ``seg_idx * seg_len``.

    This is the unit relation behind paragraph/boilerplate-level
    dedup (MassiveText/Gopher-style repeated-passage removal — public
    method): corpora repeat *passages* (headers, footers, license
    blocks) far more often than whole documents, so dedup at the
    segment grain catches what document-grain fingerprints miss.  The
    fixtures carry no structural paragraph delimiter, so the segment
    boundary is a fixed word count — the operator only requires "a
    words array", and a newline-split projection plugs in unchanged.

    Only FULL segments are emitted (a trailing run shorter than
    ``seg_len`` is dropped, as is any doc with fewer than ``seg_len``
    words) so segment identity is well-defined across documents of
    different lengths.

    Scale: one generate/explode — output is ~1x corpus size; the
    downstream ``groupBy(segment)`` is a single shuffle on a
    high-cardinality key, the same funnel shape as exact dedup.
    """
    w = F.col(words_col)
    starts = F.sequence(F.lit(1), F.size(w) - (seg_len - 1), F.lit(seg_len))
    return (
        df.where(F.size(w) >= seg_len)
        .select(
            id_col,
            w.alias("__w"),
            F.posexplode(starts).alias("seg_idx", "__g"),
        )
        .select(
            id_col,
            "seg_idx",
            F.array_join(F.slice("__w", F.col("__g"), seg_len), " ").alias(
                "segment"
            ),
        )
    )


def duplicate_span_rows(
    df: DataFrame,
    id_col: str,
    words_col: str = "words",
    n: int = 8,
    min_docs: int = 2,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Maximal cross-document duplicated word-``n``-gram spans:
    ``(id, carry..., span_start, span_len)`` where ``span_start`` is the
    0-based word offset of the first duplicated ``n``-gram and
    ``span_len`` counts consecutive duplicated ``n``-gram positions
    (the covered word run is ``span_len + n - 1`` words).

    Substring-grain dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — public method): document- and
    segment-grain fingerprints miss text that is duplicated *inside*
    otherwise-distinct documents (licenses, templates, quoted blocks).
    The suffix-array formulation of the paper is replaced by the
    relational funnel Spark executes well:

    1. posexplode the ``n``-gram positions (~1x corpus, one generate);
    2. one shuffle on the shingle to count DISTINCT source documents
       (partial aggregation map-side; the relation is shingle-
       cardinality-bounded, never all-pairs);
    3. left-semi join positions against the >=``min_docs`` shingles on
       the same shuffle key;
    4. gaps-and-islands per document (``pos - row_number``) to merge
       consecutive duplicated positions into maximal spans — the
       window repartitions on ``id_col`` and the following
       ``groupBy(id, grp)`` reuses that partitioning (id is a prefix
       of the grouping key), so the whole merge costs one shuffle.

    Carry columns must be functionally dependent on ``id_col``
    (e.g. lang/source) — they ride through the grouping unchanged.
    """
    from .quality import ngrams_zip

    pos = df.select(
        id_col,
        *carry,
        F.posexplode(ngrams_zip(F.col(words_col), n)).alias("pos", "shingle"),
    )
    dup_shingles = (
        pos.groupBy("shingle")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("shingle")
    )
    from pyspark.sql.window import Window

    marked = pos.join(dup_shingles, "shingle", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = marked.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy(id_col, *carry, "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.count(F.lit(1)).alias("span_len"),
        )
        .drop("__grp")
    )


def redundant_span_cuts(
    df: DataFrame,
    id_col: str,
    words_col: str = "words",
    n: int = 8,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The REMOVAL step of substring-grain dedup (Lee et al. 2022):
    word intervals a curation pass would cut from each document,
    ``(id, carry..., cut_start, cut_words)``.

    Survivor rule: an ``n``-gram occurrence is redundant iff the
    smallest document id owning that shingle is smaller than this
    document's — the deterministic min-id survivor of ``exact_dedup``
    applied at substring grain.  Occurrences inside the canonical
    (min-id) document are always kept, even when the shingle repeats
    within it: intra-document repetition is the repetition-filter
    family's job, not dedup's.

    A redundant position ``p`` covers words ``[p, p+n)``; overlapping
    covers must not be double-counted, so consecutive redundant
    positions with gap <= ``n-1`` merge into one cut via
    :func:`interval_union_cuts` (gaps-and-islands over ``lag``).

    Same funnel shape as :func:`duplicate_span_rows`: one shingle
    shuffle (min-id owner per shingle), an equi-join back on the same
    key, one ``id_col`` window partition that the final groupBy
    reuses.  Nothing is all-pairs; the owner relation is shingle-
    cardinality-bounded with map-side partial min.
    """
    from .quality import ngrams_zip

    pos = df.select(
        id_col,
        *carry,
        F.posexplode(ngrams_zip(F.col(words_col), n)).alias("pos", "shingle"),
    )
    owners = pos.groupBy("shingle").agg(F.min(id_col).alias("__canon"))
    redundant = (
        pos.join(owners, "shingle")
        .where(F.col(id_col) > F.col("__canon"))
        .select(id_col, *carry, "pos")
    )
    return interval_union_cuts(redundant, id_col, n=n, carry=carry)


def interval_union_cuts(
    marked: DataFrame,
    id_col: str,
    n: int,
    carry: tuple[str, ...] = (),
    pos_col: str = "pos",
) -> DataFrame:
    """Interval union of marked ``n``-gram positions, relationally:
    each marked position covers words ``[pos, pos+n)``; consecutive
    marked positions with gap <= ``n-1`` overlap, so gaps-and-islands
    over ``lag`` merges them into maximal cuts ``(id, carry...,
    cut_start, cut_words)`` with ``cut_words = max_pos - min_pos + n``
    — covered words counted exactly once regardless of how many marks
    overlap them.

    Shared by :func:`redundant_span_cuts` (marks = non-canonical
    duplicated shingles) and the decontamination cut plan (marks =
    benchmark-colliding shingles).  One window partition on ``id_col``
    whose partitioning the final groupBy reuses (id is a prefix of the
    grouping key) — the whole union costs one shuffle of the marked
    relation, which is contamination-sized, not corpus-sized.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(pos_col)
    gap = F.col(pos_col) - F.lag(pos_col).over(w)
    flagged = marked.withColumn(
        "__new", F.when(gap.isNull() | (gap > n - 1), 1).otherwise(0)
    )
    islands = flagged.withColumn(
        "__cut", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy(id_col, *carry, "__cut")
        .agg(
            F.min(pos_col).alias("cut_start"),
            (F.max(pos_col) - F.min(pos_col) + n).alias("cut_words"),
        )
        .drop("__cut")
    )


# -- MinHash + LSH ----------------------------------------------------------


_HASH_MASK = (1 << 31) - 1
_MERSENNE31 = (1 << 31) - 1  # prime modulus for the universal hash family


def _perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash constants (a odd, b), 31-bit.

    31-bit domain keeps ``a·x + b`` below 2^62 — Spark 4 runs ANSI mode
    by default, where a wrapping long multiply throws instead of
    wrapping.  Derived from a fixed LCG — no runtime randomness
    (resume/replay safe).
    """
    out = []
    state = 0x9E3779B97F4A7C15
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = ((state | 1) & _HASH_MASK) or 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state & _HASH_MASK
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    shingles_col: str | None,
    num_hashes: int = 64,
    carry: list[str] | None = None,
) -> DataFrame:
    """MinHash signatures via explode → hash-aggregate.

    Each shingle is string-hashed once (``xxhash64``), then the
    ``num_hashes`` permutations are universal-hash maps
    ``(a·x + b) mod p`` evaluated as ``num_hashes`` codegen'd ``min``
    aggregates over the exploded shingles.  Two earlier formulations
    benched far worse at sf0.1: per-seed string re-hashing inside nested
    lambdas (240s) and an array-fold of running minima (interpreted HOF,
    ~40s); this shape runs in whole-stage codegen with map-side partial
    mins (~2s).  The modular wrap is essential: without it a·x+b is
    monotone in x and every "permutation" would select the same element
    (a rank-1 signature with terrible recall).

    31-bit domain keeps a·x+b below 2^62: Spark 4 defaults to ANSI mode,
    where a wrapping long multiply throws.

    Returns ``df[id_col, sig: array<long>[num_hashes]]``.
    """
    consts = _perm_constants(num_hashes)
    if shingles_col is None:
        exploded = df  # already one row per (id, __s) from *_shingle_rows
    else:
        exploded = df.select(
            F.col(id_col), F.explode(F.col(shingles_col)).alias("__s")
        )
    exploded = exploded.withColumn(
        "__x", F.xxhash64(F.col("__s")).bitwiseAND(F.lit(_HASH_MASK))
    )
    mins = exploded.groupBy(id_col, *(carry or [])).agg(
        *[
            F.min(F.pmod(F.col("__x") * F.lit(a) + F.lit(b), F.lit(_MERSENNE31))).alias(
                f"__m{i}"
            )
            for i, (a, b) in enumerate(consts)
        ]
    )
    return mins.select(
        F.col(id_col),
        *(carry or []),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def banded_rows(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    carry: list[str] | None = None,
) -> DataFrame:
    """Explode each signature into ``bands`` bucket rows keyed by
    ``(band_id, hash(band slice))`` — the shared banding step behind
    both the self-join (``lsh_band_pairs``) and the incremental
    new-vs-indexed join.  ``carry`` columns ride along unchanged."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    extra = carry or []
    return sig_df.select(
        F.col(id_col),
        *extra,
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band)
                    ).alias("band_hash"),
                ),
            )
        ).alias("bh"),
    ).select(id_col, *extra, "bh.band_id", "bh.band_hash")


def lsh_band_pairs(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banding: explode each signature into ``bands`` buckets keyed by
    ``(band_id, hash(band slice))``; equi-self-join yields candidate id
    pairs (a < b), deduplicated across bands.

    The join key has cardinality ≈ n_docs × bands, so the shuffle
    spreads evenly; a popular bucket (many near-identical docs) is the
    data telling us they're all duplicates — AQE's skew-join splitting
    handles the pathological case.
    """
    banded = banded_rows(sig_df, id_col, sig_col, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_k: int = 5,
    num_hashes: int = 128,
    bands: int = 16,
    shingle_fn=None,
    shingle_rows_fn=None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    Returns ``(id_a, id_b, jaccard)`` for pairs with similarity ≥
    threshold.  Three-stage funnel, cheapest test first:

    1. banding (16 bands × 8 rows) — collision prob at j=0.8 background
       similarity is j⁸ per band, so moderately-similar corpora don't
       flood the candidate set (4-row bands admitted ~1% of ALL pairs
       on the word-soup fixture and verification dominated the runtime);
    2. signature-estimate prefilter — positional signature agreement
       approximates j with sd ≈ sqrt(j(1-j)/128) ≈ 0.03, so a
       threshold-0.15 cut is a >4σ-safe recall margin at 64-element
       cost instead of shingle-set cost;
    3. exact Jaccard on the survivors — precision is exact regardless
       of LSH parameters.
    """
    from .relational import spread

    rows_per_band = num_hashes // bands
    make_shingles = shingle_fn or (lambda t: char_shingles(t, shingle_k))
    make_rows = shingle_rows_fn or (
        lambda d: char_shingle_rows(d, id_col, text_col, shingle_k)
    )
    base = spread(df).select(F.col(id_col), F.col(text_col)).cache()
    # Signatures from codegen'd shingle ROWS (no HOF, no array alloc);
    # shingle ARRAYS are built only for the surviving candidate pairs.
    sig = minhash_signatures(make_rows(base), id_col, None, num_hashes).withColumnRenamed(
        "sig", "__sig"
    ).cache()
    # Materialize both caches NOW: the final plan consumes sig from four
    # branches (two banding sides, two estimate sides) and base from two;
    # inside one action those branches race ahead of cache population and
    # recompute the signature aggregation up to 4x (measured: the same
    # query swings 4s -> 10s at sf0.1 depending on how the race lands).
    # ONE count() job suffices for both: sig's lineage reads base through
    # its InMemoryRelation, so the single pass populates base's cache as
    # a side effect while building sig's (r4 verdict item 3 — the second
    # eager count was pure overhead on the cold-build path).
    sig.count()
    cands = lsh_band_pairs(sig, id_col, "__sig", bands, rows_per_band)

    sa = sig.select(F.col(id_col).alias("id_a"), F.col("__sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("__sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / float(num_hashes)
    prefiltered = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .where(est >= threshold - 0.15)
        .select("id_a", "id_b")
    )

    # Join texts first, THEN build shingle arrays — the (interpreted)
    # array construction runs only on candidate pairs, not the corpus.
    a = base.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    b = base.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    verified = (
        prefiltered.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            jaccard(make_shingles(F.col("__ta")), make_shingles(F.col("__tb"))),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def incremental_near_dup_pairs(
    corpus: DataFrame,
    increment: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_k: int = 5,
    num_hashes: int = 128,
    bands: int = 16,
) -> DataFrame:
    """Dedup an ARRIVING batch against an already-indexed corpus — the
    production shape of fuzzy dedup at 100 TB: the corpus is indexed
    once (signatures + band buckets are a materialized store), and each
    increment generates only ``increment × (corpus ∪ earlier-increment)``
    candidates.  Corpus × corpus pairs are never formed, so the
    per-batch cost is proportional to the BATCH, not the corpus.

    Here the corpus signature relation is computed inline from the
    corpus DataFrame (this sandbox has no persistent store); the two
    signature builds are deliberately separate aggregations so the
    corpus side is exactly the thing a store would hold.

    Returns ``(new_id, dup_of, jaccard)`` with ``dup_of`` an indexed
    corpus document, or an increment document with smaller id (so
    within-batch duplicates are caught once, deterministically).

    Recall is probabilistic in the banding: a pair at exactly
    ``J = threshold`` survives at least one band with probability
    ``1 - (1 - J^r)^b`` (r = num_hashes/bands rows per band).  The
    default 16×8 gives ~95% at J=0.80 — fine for dedup, but an
    exact-Jaccard differential oracle needs the miss probability
    negligible at threshold: pass ``bands=32`` (4 rows/band,
    miss ≈ 5e-8 at 0.80) for oracle-gated configurations.  More bands
    = more candidate pairs, all cheaply killed by the signature
    estimate prefilter, so the exact-verify stage is unaffected.
    """
    from .relational import spread

    rows_per_band = num_hashes // bands
    base_c = spread(corpus).select(F.col(id_col), F.col(text_col))
    base_i = spread(increment).select(F.col(id_col), F.col(text_col))
    # ONE signature aggregation over the tagged union (the membership
    # flag is constant per id, so it rides the groupBy for free).  Two
    # separate aggregations benched 10 s vs 3 s at sf0.1: each 128-min
    # aggregate compiles its own multi-thousand-line codegen unit, and
    # fresh expression ids defeat the generated-class cache, so the
    # split pays the compile twice every run.  In production the corpus
    # side is read pre-signed from the index store, which is exactly
    # this single-aggregation shape applied to the increment alone.
    tagged = base_c.withColumn("__is_new", F.lit(False)).unionByName(
        base_i.withColumn("__is_new", F.lit(True))
    )
    # Materialize once before the multi-branch consumption.  eager
    # localCheckpoint instead of cache(): checkpoint blocks are owned by
    # the RDD and released by the ContextCleaner when the returned frame
    # is garbage-collected, whereas a cache() entry stays pinned in the
    # cache manager until an explicit unpersist — which this function
    # cannot issue, since the caller consumes the result lazily
    # (round-2 advisor: repeated invocations leaked cached relations).
    all_sigs = minhash_signatures(
        char_shingle_rows(tagged, id_col, text_col, shingle_k, carry=["__is_new"]),
        id_col, None, num_hashes, carry=["__is_new"],
    ).localCheckpoint(eager=True)

    banded = banded_rows(
        all_sigs, id_col, "sig", bands, rows_per_band, carry=["__is_new"]
    )
    a = banded.where(F.col("__is_new")).alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            & (
                ~F.col("b.__is_new")
                | (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("dup_of"),
        )
        .distinct()
    )

    sa = all_sigs.select(F.col(id_col).alias("new_id"), F.col("sig").alias("sig_a"))
    sb = all_sigs.select(F.col(id_col).alias("dup_of"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / float(num_hashes)
    prefiltered = (
        cands.join(sa, "new_id")
        .join(sb, "dup_of")
        .where(est >= threshold - 0.15)
        .select("new_id", "dup_of")
    )

    texts = base_c.unionByName(base_i)
    ta = texts.select(F.col(id_col).alias("new_id"), F.col(text_col).alias("__ta"))
    tb = texts.select(F.col(id_col).alias("dup_of"), F.col(text_col).alias("__tb"))
    verified = (
        prefiltered.join(ta, "new_id")
        .join(tb, "dup_of")
        .withColumn(
            "jaccard",
            jaccard(
                char_shingles(F.col("__ta"), shingle_k),
                char_shingles(F.col("__tb"), shingle_k),
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select(
        "new_id", "dup_of", F.round("jaccard", 4).alias("jaccard")
    )


# -- SimHash ----------------------------------------------------------------


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: tokens vote ±1 per bit of their
    xxhash64; signature bit b is 1 where the vote sum is positive.

    Formulated as explode → hash-aggregate with 64 conditional sums
    (whole-stage codegen), NOT an array fold: higher-order-function
    lambdas evaluate interpreted per element and benched 40s vs ~2s for
    this shape at sf0.1.  Partial aggregation also combines map-side, so
    the shuffle carries one 64-vote row per document, not per token.
    """
    tokens = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))).alias(
            "__tok"
        ),
    ).withColumn("__h", F.xxhash64(F.col("__tok")))
    votes = tokens.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"__v{b}")
            for b in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"__v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Banding over four 16-bit chunks: any pair within hamming ≤ 3 shares
    at least one exact chunk (pigeonhole), so candidates come from four
    equi-joins, never a cross join; popcount verifies the distance.
    """
    from .relational import spread

    sh = simhash_signatures(spread(df), id_col, text_col).withColumnRenamed(
        "simhash", "__sim"
    )
    banded = sh.select(
        F.col(id_col),
        F.col("__sim"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("__sim"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select(id_col, "__sim", "cv.chunk_id", "cv.chunk_val")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__sim").alias("sim_a"),
            F.col("b.__sim").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


#: Cutover between the driver union-find and the distributed min-label
#: iteration in :func:`connected_components`.  At 16 B/edge the driver
#: path tops out near 16 MB of rows plus dict overhead (~100 MB) — well
#: inside any driver heap — while each distributed round costs seconds
#: of scheduling regardless of size.  The boundary is pinned by
#: ``tests/test_pipeline.py::test_connected_components_cutover_boundary``:
#: both paths produce identical components at the limit.
DRIVER_EDGE_LIMIT = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Exact connected components by min-label propagation — the step
    that turns near-dup PAIRS into dedup CLUSTERS (keep one doc per
    component, drop the rest).

    Size dispatch: the edge list here is the OUTPUT of near-dup pruning
    — typically orders of magnitude smaller than the corpus (dup pairs
    only).  Up to :data:`DRIVER_EDGE_LIMIT` edges the whole graph fits
    trivially in driver memory, where union-find solves it in
    O(E α(E)) with zero Spark jobs — while the distributed loop pays
    ~seconds of scheduling per iteration regardless of data size.  So:
    collect-and-union-find when small (the common case), iterate
    distributed when not.  Both produce identical min-label components.

    Distributed path, each iteration: every node takes the min label
    among itself and its neighbors (join + groupBy-min = two shuffles);
    converged when the global label sum stops changing —
    min-propagation labels are monotonically non-increasing, so an
    unchanged sum means a fixpoint, checked with one tiny agg action
    per round.  Iterations needed = graph diameter.  ``localCheckpoint``
    truncates lineage each round so the plan doesn't grow.

    Scale: at billions of edges the same loop body would use the
    large-star/small-star edge rewriting (Kiveris et al., "Connected
    Components in MapReduce and Beyond") to bound per-round shuffle
    volume.  Labels are component-minimum ids: deterministic, so the
    output is oracle-checkable against a recursive-CTE closure.
    """
    # bidir references edges twice (both directions); persist the input
    # so an expensive upstream (the LSH funnel) computes once, not twice.
    # Respect a caller-managed cache (e.g. the suite's shared pair
    # relation): don't re-persist it, and never unpersist it here.
    lvl = edges.storageLevel
    caller_cached = lvl.useMemory or lvl.useDisk
    if not caller_cached:
        edges = edges.persist()

    n_edges = edges.limit(DRIVER_EDGE_LIMIT + 1).count()
    if n_edges <= DRIVER_EDGE_LIMIT:
        pair_rows = edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        ).collect()
        if not caller_cached:
            edges.unpersist()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in pair_rows:
            ra, rb = find(r["a"]), find(r["b"])
            if ra != rb:
                # union by min so the final label IS the component min
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        out = [(node, find(node)) for node in list(parent)]
        spark = edges.sparkSession
        # createDataFrame-from-rows plans as Scan ExistingRDD with NO
        # size statistics, so the planner assumes worst-case size and a
        # downstream equi-join lands on SortMergeJoin (measured: the
        # embedding_dedup_retention consumer paid 2 Exchange + 2 Sort
        # to join this ≤2·DRIVER_EDGE_LIMIT-row relation against the
        # corpus).  The driver path is size-bounded BY CONSTRUCTION —
        # ≤ 2 M node rows ≈ 32 MB at the default limit — so hint it
        # broadcastable; the hint never changes join results, and the
        # unbounded distributed path below stays unhinted.
        return F.broadcast(
            spark.createDataFrame(out, "node long, comp long"))

    bidir = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .cache()
    )
    labels = (
        bidir.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    for _ in range(max_iter):
        msgs = bidir.join(
            labels, bidir["a"] == labels["node"]
        ).select(F.col("b").alias("node"), "comp")
        # lazy checkpoint: the convergence agg below is the action that
        # materializes it — one job per round, not two
        labels = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    bidir.unpersist()
    if not caller_cached:
        edges.unpersist()
    return labels


def segment_containment_pairs(
    df: DataFrame,
    id_col: str,
    words_col: str = "words",
    seg_len: int = 20,
    min_containment_bp: int = 5000,
) -> DataFrame:
    """Directed containment pairs at the segment grain: for documents
    a ≠ b, the fraction of a's fixed-length word segments that appear
    VERBATIM among b's segments — ``(id_a, id_b, n_seg_a,
    shared_segments, containment_bp)`` with ``containment_bp =
    (10000·shared) div n_seg_a ≥ min_containment_bp``.

    Jaccard near-dup misses the asymmetric case (a short document
    quoted inside a long one: high containment, low Jaccard — the
    quote/subset shape crawl dedup cares about).  True set containment
    over all n-grams is pair-explosive; the segment grain keeps it
    relational: one distinct (doc, segment) relation (~1x corpus), a
    self-equi-join on the segment key, one pair aggregation.

    Scale note: the join fan-out is Σ_seg df², so run this AFTER
    boilerplate removal (:func:`word_segment_rows` census →
    :func:`redundant_span_cuts` family) — a segment shared by
    thousands of docs is boilerplate, not quotation, and should not
    reach this operator.  Alignment-sensitive by construction (both
    sides segment at multiples of ``seg_len``): a verbatim copy at an
    unaligned offset needs the span-grain operator
    (:func:`duplicate_span_rows`) instead.
    """
    segs = word_segment_rows(df, id_col, words_col, seg_len).select(
        id_col, "segment"
    ).distinct()
    tot = segs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_seg_a"))
    a = segs.select(F.col(id_col).alias("id_a"), "segment")
    b = segs.select(F.col(id_col).alias("id_b"), "segment")
    shared = (
        a.join(b, "segment")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_segments"))
    )
    return (
        shared.join(tot.withColumnRenamed(id_col, "id_a"), "id_a")
        .withColumn(
            "containment_bp",
            F.expr("(10000 * shared_segments) div n_seg_a"),
        )
        .where(F.col("containment_bp") >= min_containment_bp)
        .select("id_a", "id_b", "n_seg_a", "shared_segments", "containment_bp")
    )
