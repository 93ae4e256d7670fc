"""Embedding similarity search: brute-force cosine top-k + IVF scale path.

The fixture ``embeddings`` table carries ``embedding array<float>[64]``
and an integer ``label`` (used as a precomputed coarse-quantizer cell,
i.e. the IVF assignment a k-means step would produce).

Scale design:

- **brute force** — queries broadcast against the corpus: one pass,
  no shuffle of the corpus, per-query top-k via ranking window.  This
  is the exact baseline; cost O(|corpus|·|queries|·dim).
- **IVF** — restrict the join to the query's cell (equi-join on the
  cell id) before scoring: the per-query scan drops to the cell's
  fraction of the corpus.  Same downstream scoring/top-k code.

All cosine math is expression-only, computed in double; sums run
left-to-right so the DuckDB oracle (``list_dot_product`` on DOUBLE[])
is bit-comparable after rounding.  The unrolled sums are generated as
SQL strings parsed once JVM-side via ``F.expr`` — composing ~100s of
``Column`` objects in Python costs one py4j round-trip per arithmetic
node (seconds of driver time per query), while the equivalent SQL
string is a single call and yields the identical codegen'd plan.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import session_memo


def as_double_vec(col: Column) -> Column:
    return col.cast("array<double>")


def dot_sql(a: str, b: str, dim: int) -> str:
    """SQL for a left-to-right sequential dot product of two array
    columns (bit-stable across engines: SQL ``+`` parses
    left-associative, matching DuckDB's ``list_dot_product`` order)."""
    return "+".join(f"{a}[{i}]*{b}[{i}]" for i in range(dim))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Fold-based dot product for unknown dims (interpreted lambdas —
    use :func:`dot_sql` + ``F.expr`` on named columns in hot paths)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_sql(a: str, b: str, dim: int) -> str:
    """SQL for dot/sqrt(|a|²·|b|²) — formula mirrored by the oracle."""
    return (
        f"({dot_sql(a, b, dim)}) / sqrt(({dot_sql(a, a, dim)}) * ({dot_sql(b, b, dim)}))"
    )


def cosine_prenormed_sql(a: str, b: str, na2: str, nb2: str, dim: int) -> str:
    """Cosine with precomputed squared norms (norms are O(n), pair dots
    are O(n²) — never recompute norms inside the pair join)."""
    return f"({dot_sql(a, b, dim)}) / sqrt({na2} * {nb2})"


def topk_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    cell_col: str | None = None,
    decimals: int = 6,
    dim: int | None = 64,
) -> DataFrame:
    """Top-k cosine neighbors for each query vector.

    ``queries`` must carry the same ``id_col``/``vec_col`` (and
    ``cell_col`` for IVF).  Queries are broadcast — the corpus never
    shuffles for scoring; the only shuffle is the per-query top-k
    window on ``query_id``, whose cardinality is |queries|·|corpus
    slice|.  With ``cell_col`` the join keys on the cell id first (IVF:
    only the query's cell is scanned).
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("__qv"),
        *([F.col(cell_col).alias("__qcell")] if cell_col else []),
    ).withColumn("__qn2", F.expr(dot_sql("__qv", "__qv", dim)))
    from .relational import spread

    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(F.col(vec_col)).alias("__cv"),
        *([F.col(cell_col).alias("__ccell")] if cell_col else []),
    ).withColumn("__cn2", F.expr(dot_sql("__cv", "__cv", dim)))
    if cell_col:
        joined = c.join(F.broadcast(q), F.col("__qcell") == F.col("__ccell"))
    else:
        joined = c.crossJoin(F.broadcast(q))
    scored = (
        joined.where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(cosine_prenormed_sql("__qv", "__cv", "__qn2", "__cn2", dim)),
                decimals,
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane components in
    [-0.5, 0.5), derived from a fixed LCG (no runtime randomness)."""
    out = []
    state = (seed * 0x9E3779B97F4A7C15 + 0xD1B54A32D192ED03) % (1 << 64)
    for _ in range(dim):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        out.append((state >> 11) / float(1 << 53) - 0.5)
    return out


def hyperplane_bucket_sql(vec: str, dim: int, n_planes: int = 12) -> str:
    """SQL for the random-hyperplane LSH bucket id: bit b =
    sign(vec · plane_b).

    Cosine-similar vectors agree on most sign bits, so near neighbors
    land in the same bucket with high probability; 12 planes → 4096
    buckets.  Plane components embed as ``D``-suffixed double literals
    (``repr`` round-trips exactly), so the whole bucket is one
    codegen-compilable expression parsed in a single ``F.expr`` call.
    """
    terms = []
    for p in range(n_planes):
        plane = _hyperplane(p, dim)
        d = "+".join(f"{vec}[{i}]*{plane[i]!r}D" for i in range(dim))
        terms.append(f"IF(({d}) > 0D, {1 << p}, 0)")
    return " + ".join(terms)


def hyperplane_bucket(vec_col: str, dim: int, n_planes: int = 12) -> Column:
    """Column form of :func:`hyperplane_bucket_sql` over a named
    ``array<double>`` column."""
    return F.expr(hyperplane_bucket_sql(vec_col, dim, n_planes))


def topk_neighbors_hyperplane_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    dim: int = 64,
    n_planes: int | None = None,
    multi_probe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    hyperplane bucket (plus, with ``multi_probe``, the ``n_planes``
    buckets one sign-flip away — the borderline cases LSH misses most).

    ``n_planes=None`` sizes buckets to the corpus: ``log2(n / 4k)``
    planes targets ≈4k candidates per bucket, so recall doesn't
    collapse when a hand-picked plane count meets a corpus it wasn't
    tuned for (12 planes = 4096 buckets over a 2 000-vector corpus
    leaves <1 vector per bucket — recall@10 ≈ bucket/k ≈ 0.03,
    measured; the driver's rows-only check can't see that, which is
    exactly why `tests/test_ann_recall.py` pins a floor against the
    exact top-k).  The one count() action is the ANN index-build step.

    Multi-probe costs ×(n_planes+1) bucket scans and typically doubles
    single-probe recall; each corpus vector owns exactly one bucket, so
    probes can never produce duplicate (query, neighbor) pairs and the
    ranking window needs no dedup.  Reuses the exact scoring/ranking
    path with the bucket as the IVF cell.
    """
    if n_planes is None:
        n = corpus.count()
        n_planes = max(2, int(math.log2(max(2.0, n / float(4 * k)))))

    def with_bucket(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__dv", as_double_vec(F.col(vec_col)))
            .withColumn("__bucket", hyperplane_bucket("__dv", dim, n_planes))
            .drop("__dv")
        )

    c = with_bucket(corpus)
    q = with_bucket(queries)
    if multi_probe:
        probes = F.array(
            F.col("__bucket"),
            *[
                F.col("__bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(n_planes)
            ],
        )
        q = (
            q.withColumn("__probe", F.explode(probes))
            .drop("__bucket")
            .withColumnRenamed("__probe", "__bucket")
        )
    return topk_neighbors(c, q, id_col, vec_col, k=k, cell_col="__bucket", dim=dim)


#: Above this estimated corpus-matrix size the blocked path refuses to
#: run (each WORKER loads the full matrix): restrict candidate search
#: to LSH/IVF cells first (``embedding_near_dup_pairs`` with
#: ``cell_col``) — at that scale exact all-pairs is the wrong query.
MAX_SIDE_MATRIX_BYTES = 2 << 30

#: Bytes per block·corpusᵀ similarity slab in the blocked path (a whole
#: 10k-row Arrow batch against a 50k-row corpus is one 4 GB slab, ~12 GB
#: peak with its norm outer product and quotient).
BLOCKED_SLAB_BYTES = 32 << 20


class CoveringRadiusBlowupError(RuntimeError):
    """The covering-radius replication factor exploded: the corpus has
    no cluster structure at this threshold, so EXACT completeness
    degenerates toward all-pairs (every leaf can host a partner for
    every point).  Raised BEFORE the pair matmul ships the replicated
    vector relation — the r6 probe incidents where this failure mode
    filled the host disk (~55 GB shuffle on a 256 MB corpus) had no
    machine tripwire; now they fail loudly with the alternatives named.

    Remedies: (a) the approximate SemDeDup-style path — cluster with
    ``kmeans_ivf_cells`` and pair WITHIN cells only
    (``embedding_near_dup_pairs(cell_col=...)``), accepting boundary
    misses; (b) ANN top-k per point (``topk_neighbors_ivf_kmeans`` /
    ``topk_neighbors_hyperplane_lsh`` / PQ) and threshold the neighbor
    lists; (c) raise ``threshold`` so θ_t stops rivaling the data's
    own angular spread; (d) ``max_replication=None`` to accept the
    quadratic cost knowingly.
    """


def _lap(into: dict[str, float], name: str, t0: float) -> float:
    """Add the driver seconds since ``t0`` to ``into[name]``; return
    the new start time (so consecutive steps chain)."""
    now = time.monotonic()
    into[name] = round(into.get(name, 0.0) + (now - t0), 3)
    return now


@dataclass
class HierStats:
    """Per-call record of one partitioned exact pair search.

    Pass a fresh instance as ``stats=`` to
    :func:`embedding_near_dup_pairs_hier` or ``_auto``; the call fills
    in the fields it reaches and leaves the rest ``None``.  Each call
    writes only its own record, so concurrent or successive calls never
    overwrite each other's numbers.
    """

    #: auto dispatch: 'blocked', 'hier' or 'semdedup_fallback'
    path: str | None = None
    #: auto result semantics: 'exact' or 'semdedup_cells'
    method: str | None = None
    #: hier quantizer fit: 'driver' (bounded sample) or 'distributed'
    #: (two-stage executor fit past the driver sample cap)
    fit_mode: str | None = None
    #: hier leaf count K
    k: int | None = None
    #: 3 when the hier super level ran, 2 below 24 branches
    levels: int | None = None
    #: leaves in the hier replication scan's dense wide tier
    wide_leaves: int | None = None
    #: guard-measured mean replication factor (None: guard skipped —
    #: small corpus or ``max_replication=None``)
    replication: float | None = None
    #: driver wall seconds per hier phase (see :meth:`phase`)
    phase_seconds: dict[str, float] = field(default_factory=dict)
    #: driver wall seconds per quantizer-fit sub-step
    fit_seconds: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def phase(self, spark, name: str):
        """Time the block into ``phase_seconds[name]`` and tag every
        Spark job it starts ``hier:<name>`` (the event log records it
        under ``spark.job.tags``)."""
        sc = spark.sparkContext
        tag = f"hier:{name}"
        sc.addJobTag(tag)
        t0 = time.monotonic()
        try:
            yield
        finally:
            sc.removeJobTag(tag)
            _lap(self.phase_seconds, name, t0)


def embedding_near_dup_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    margin: float = 1e-6,
    max_side_bytes: int = MAX_SIDE_MATRIX_BYTES,
) -> DataFrame:
    """All pairs with cosine ≥ threshold, via numpy-blocked candidate
    generation + exact expression verification.

    Stage 1 ships the (id, vector) matrix to workers as a parquet
    side-artifact (``operators/artifact.py``): a DISTRIBUTED write, a
    per-worker cached read — the driver never materializes the corpus
    (round-1 collected it to feed sc.broadcast; VERDICT item 5).  Each
    ``mapInPandas`` task then runs a vectorized block·corpusᵀ matmul —
    dense linear algebra is where a Pandas UDF beats row-expressions by
    an order of magnitude — emitting candidate id pairs above
    ``threshold - margin`` (margin covers numpy's pairwise-summation FP
    drift vs the sequential oracle order).  Stage 2 recomputes the
    candidates' cosines with the bit-stable unrolled expression, so the
    OUTPUT is identical to :func:`embedding_near_dup_pairs` — numpy
    only decides which pairs get verified, never a final value.

    The per-WORKER matrix bounds this at corpus_size·dim·8 bytes; the
    ``max_side_bytes`` guard raises past it instead of silently
    OOM-ing executors — beyond that, partition by LSH/IVF cell first
    (``cell_col`` on the exact variant) so each block only multiplies
    against its cell.
    """
    from .artifact import load_side_artifact, write_side_artifact
    from .relational import spread

    # Squared norms are hoisted into the cached base projection: the
    # pair-verify stage then codegens ONE unrolled dot product instead
    # of three, keeping the generated method under janino's 64 KB limit
    # (three 64-term dots after two joins tripped the fallback to
    # interpreted eval).  Same left-to-right sums, same oracle parity.
    base = spread(df).select(
        F.col(id_col).alias("__id"), as_double_vec(F.col(vec_col)).alias("__v")
    ).withColumn("__n2", F.expr(dot_sql("__v", "__v", dim))).where(
        F.col("__n2") > 0  # undefined-cosine rows pair with nothing
    ).cache()
    n_rows = base.count()
    est_bytes = n_rows * dim * 8
    if est_bytes > max_side_bytes:
        raise ValueError(
            f"corpus matrix ~{est_bytes >> 20} MiB exceeds max_side_bytes "
            f"({max_side_bytes >> 20} MiB) per worker; use "
            "embedding_near_dup_pairs(cell_col=...) to restrict the pair "
            "search to LSH/IVF cells before blocking"
        )
    corpus_art = write_side_artifact(base.select("__id", "__v"), "embcorpus")
    cut = threshold - margin

    cand_schema = T.StructType(
        [T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType())]
    )

    def gen(it):
        import numpy as _np
        import pandas as _pd

        corpus = load_side_artifact(corpus_art)
        c_ids = corpus["__id"].to_numpy(dtype=_np.int64)
        c_mat = _np.array(list(corpus["__v"]), dtype=_np.float64)
        c_norms = _np.sqrt((c_mat * c_mat).sum(axis=1))
        step = max(1, BLOCKED_SLAB_BYTES // (8 * max(1, len(c_ids))))
        for pdf in it:
            ids = pdf["__id"].to_numpy(dtype=_np.int64)
            vecs = _np.array(list(pdf["__v"]), dtype=_np.float64)
            for lo in range(0, len(ids), step):
                block, block_ids = vecs[lo:lo + step], ids[lo:lo + step]
                bn = _np.sqrt((block * block).sum(axis=1))
                sims = (block @ c_mat.T) / _np.outer(bn, c_norms)
                bi, cj = _np.nonzero(sims >= cut)
                a, b = block_ids[bi], c_ids[cj]
                keep = a < b
                yield _pd.DataFrame({"id_a": a[keep], "id_b": b[keep]})

    cands = base.mapInPandas(gen, cand_schema)
    a = base.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n2").alias("__na2"),
    )
    b = base.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n2").alias("__nb2"),
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.expr(cosine_prenormed_sql("__va", "__vb", "__na2", "__nb2", dim)),
                6,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    cell_col: str | None = None,
    dim: int | None = 64,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).

    Brute self-join bounded to the upper triangle; with ``cell_col``
    the pair search stays within cells (the LSH/IVF scale path — near
    dups land in the same cell by construction of the quantizer).

    Zero-norm vectors have no defined cosine and participate in no
    pair — excluded up front in every pair path (under ANSI mode the
    ``/ sqrt(0)`` would otherwise fail the whole query).
    """
    from .relational import spread

    base = spread(df).select(
        F.col(id_col).alias("__id"),
        as_double_vec(F.col(vec_col)).alias("__v"),
        *([F.col(cell_col).alias("__cell")] if cell_col else []),
    ).withColumn("__n2", F.expr(dot_sql("__v", "__v", dim))).where(
        F.col("__n2") > 0
    ).cache()
    left = base.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n2").alias("__na2"),
        *([F.col("__cell").alias("__cella")] if cell_col else []),
    )
    right = base.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n2").alias("__nb2"),
        *([F.col("__cell").alias("__cellb")] if cell_col else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    if cell_col:
        cond = cond & (F.col("__cella") == F.col("__cellb"))
    return (
        left.join(right, cond)
        .withColumn(
            "cosine",
            F.round(
                F.expr(cosine_prenormed_sql("__va", "__vb", "__na2", "__nb2", dim)),
                6,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _guard_replication(rep: DataFrame, n_rows: int, max_replication: float,
                       threshold: float) -> tuple[DataFrame, float]:
    """Cache + count the replica relation BEFORE the leaf exchange and
    pair matmul (the point of no return for the quadratic failure
    mode), and raise :class:`CoveringRadiusBlowupError` past
    ``max_replication``.  Returns the cached relation (reused by the
    downstream tail, so the guard costs one pass over cached rows, not
    a recompute) and the measured mean replication factor.

    Cache lifecycle (ADVICE r7): on the success path ``rep`` (and the
    caller's ``base``) stay cached deliberately — the returned
    DataFrame's pair tail re-reads both, and unpersisting before the
    caller materializes it would recompute two full Arrow passes.  The
    caches are id+f16 / corpus-sized respectively and evict LRU; a
    long-lived driver looping over MANY corpora should call
    ``spark.catalog.clearCache()`` between them (the probe and bench
    harnesses do exactly this)."""
    rep = rep.cache()
    mean_rep = rep.count() / float(n_rows)
    if mean_rep > max_replication:
        rep.unpersist()
        raise CoveringRadiusBlowupError(
            f"mean covering-radius replication factor {mean_rep:.1f} "
            f"exceeds max_replication={max_replication}: at threshold "
            f"{threshold} the corpus has no usable cluster structure and "
            "the EXACT pair search degenerates toward all-pairs. Use the "
            "approximate paths instead — SemDeDup-style within-cell "
            "pairs (embedding_near_dup_pairs(cell_col=...) over "
            "kmeans_ivf_cells) or ANN top-k (topk_neighbors_ivf_kmeans "
            "/ hyperplane LSH / PQ) — or raise the threshold, or pass "
            "max_replication=None to accept the quadratic cost knowingly."
        )
    return rep, mean_rep


#: Driver-memory ceiling on the auto-scaled hier fit sample (rows).
#: 1M rows × 64 dims × 8 B = 512 MB driver-side during the fit — the
#: point past which K stops tracking n/leaf_target and leaf
#: populations start growing again (≈ corpora past 16M rows at the
#: default leaf_target; the quantizer metadata shipped in task
#: closures is then K·dim·8 ≈ 128 MB, the matching executor ceiling).
FIT_SAMPLE_ROWS_CAP = 1 << 20

#: Supers probed and branches kept per row by the hier HOME assignment
#: (r6: mean replication 210 with top-1 homes, 9 with top-8).
HOME_PROBES = 8

#: Fit-sample cap of the flat k-means quantizer (:func:`kmeans_ivf_cells`,
#: behind the IVF / IVF-PQ indexes and the SemDeDup fallback cells):
#: ~1000 points per cell at the suite's 8-cell index, flat as n grows.
KMEANS_FIT_SAMPLE_ROWS = 8192

#: Arrow-batch coalescing target for PASS 2 (replication) ONLY: the
#: replicate map buffers input batches to ~this many rows before
#: flushing one numpy block through the chunked GEMM scan.  Pass 1
#: (home assignment) deliberately does NOT coalesce: its probe passes
#: are gather-bound (per-super fancy-indexed row gathers), and a 64k
#: flush's ~16 MB working set falls out of cache between passes —
#: built and A/B'd in r9, assign_radii ran ~2× SLOWER at x10 AND x30
#: (see the negative-result note at ``assign_home``), so the revert is
#: the measured choice, not an omission.  Per-row results are
#: identical under any grouping; this is purely a batching constant.
COALESCE_ROWS = 1 << 16

#: Per-task byte target for the hier tail's leaf exchange (guide §5 /
#: r9 VERDICT item 4): ``leaf_pairs_part`` buffers its whole shuffle
#: partition (one Arrow table) before the int32 argsort/split, so its
#: peak per-task allocation is tagged-relation-bytes / partitions.
#: With the default shuffle partition count that quotient grows
#: linearly with the corpus; flooring the partition count at
#: tagged_bytes / this target bounds the buffer at scale while leaving
#: bench-scale plans untouched (the floor binds only past
#: ~shuffle.partitions × 128 MB of tagged rows — ~50M corpus rows at
#: dim 64 and the default 200 partitions).
LEAF_PART_TARGET_BYTES = 128 << 20

#: Estimated bytes per tagged-relation row beyond the f16 vector
#: payload (id 8 B + leaf_id 4 B + side 4 B + Arrow list offset 4 B +
#: shuffle framing slop).
TAGGED_ROW_OVERHEAD_BYTES = 32


def _tail_partition_floor(n_rows: int, mean_rep, dim: int,
                          shuffle_parts: int):
    """Partition count for the hier tail's leaf exchange, or ``None``
    to keep the session default (``repartition("leaf_id")``, which AQE
    may still coalesce).  A pinned count is returned ONLY when the
    estimated tagged-relation bytes would make the default per-task
    buffer exceed :data:`LEAF_PART_TARGET_BYTES` — so at bench scales
    the plan is bit-identical to the unfloored form, and at 100 TB
    scale ``leaf_pairs_part``'s whole-partition Arrow buffer stays
    bounded.  ``mean_rep`` is the guard-measured replication factor
    (``None`` when the guard was skipped — small corpus, floor
    irrelevant)."""
    if mean_rep is None:
        return None
    rows_tagged = int(n_rows * (1.0 + float(mean_rep)))
    bytes_tagged = rows_tagged * (dim * 2 + TAGGED_ROW_OVERHEAD_BYTES)
    floor_parts = -(-bytes_tagged // LEAF_PART_TARGET_BYTES)
    return int(floor_parts) if floor_parts > shuffle_parts else None


def _branch_leaves(leaf_branch, n_b: int) -> list:
    """Per-branch ascending leaf-index lists from one stable argsort +
    searchsorted (r9): the per-branch ``nonzero`` form was Θ(B·K) —
    ~2.9e8 comparisons at the x100 probe shape — for the same lists."""
    import numpy as np

    order = np.argsort(leaf_branch, kind="stable")
    bounds = np.searchsorted(leaf_branch[order], np.arange(n_b + 1))
    return [order[bounds[b]:bounds[b + 1]] for b in range(n_b)]


def _cos_slack(dim: int) -> float:
    """Over-admit slack for float32 cos-space comparisons of unit
    vectors: 3× the float32 dot-error bound (dim·2⁻²⁴), floored."""
    return max(1e-5, 1.2e-7 * dim)


def _vecs(batch, dim: int):
    """Arrow list<double> ``__v`` column -> dense (rows, dim) float64
    matrix with no per-row Python objects."""
    import numpy as _np

    col = batch.column(batch.schema.get_field_index("__v"))
    flat = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    return (flat.flatten().to_numpy(zero_copy_only=False)
            .reshape(-1, dim).astype(_np.float64, copy=False))


def _f16_list(xn, dim: int, rows=None):
    """f16 bits of float64-normalized unit rows (gathered by ``rows``
    when given) as an Arrow list<int16> column: one flat int16 buffer
    + arithmetic offsets, zero per-row objects.  Both passes emit
    through this, so a replica row carries the exact bits its home row
    carries.  The gather runs on the 2-byte bits, after the cast."""
    import numpy as _np
    import pyarrow as _pa

    bits = _np.ascontiguousarray(xn.astype(_np.float16)).view(_np.int16)
    if rows is not None:
        bits = bits[rows]
    return _pa.ListArray.from_arrays(
        _pa.array(_np.arange(0, (len(bits) + 1) * dim, dim,
                             dtype=_np.int32), type=_pa.int32()),
        _pa.array(bits.ravel(), type=_pa.int16()))


def _lloyd_rounds(points, k: int, seed: int, iters: int = 8):
    """Driver-side spherical k-means over a BOUNDED point set (a seeded
    corpus sample or quantizer metadata — never the data).
    Deterministic: seeded init, fixed iterations, argmax ties broken by
    index."""
    import numpy as np

    pts = np.asarray(points, dtype=np.float64)
    pts = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    k = min(k, len(pts))
    centers = pts[rng.choice(len(pts), size=k, replace=False)].copy()
    assign = np.zeros(len(pts), dtype=np.int64)
    dim = pts.shape[1]
    for _ in range(iters):
        # chunked argmax keeps the similarity block under ~128 MB; the
        # update is one sort + segmented reduce over the whole point
        # block (r9: the previous one-bincount-per-dimension form was
        # dim+1 numpy calls per iteration — at the x100 fit shape the
        # 3.6k sequential per-branch fits spent more time in that call
        # overhead than in the math; sort+reduceat is 3 numpy calls and
        # measured ~3x faster at per-branch sizes, no slower at the
        # 64k-row branch fit).  Stable sort keeps original row order
        # within each cluster, so each cluster's sum accumulates in the
        # same order as before — the centers only move at the level of
        # summation-order float drift, which the fit tolerates by
        # construction (fit quality affects cost only; every emitted
        # pair is exact-verified).
        chunk = max(1, (128 << 20) // (k * 8))
        for lo in range(0, len(pts), chunk):
            assign[lo:lo + chunk] = (
                pts[lo:lo + chunk] @ centers.T).argmax(axis=1)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        order = np.argsort(assign, kind="stable")
        sa = assign[order]
        starts = np.concatenate(
            ([0], np.nonzero(np.diff(sa))[0] + 1))
        seg = np.add.reduceat(pts[order], starts, axis=0)
        sums = np.zeros((k, dim))
        sums[sa[starts]] = seg
        nonempty = counts > 0
        means = sums[nonempty] / counts[nonempty, None]
        nrm = np.linalg.norm(means, axis=1)
        ok = nrm > 0
        upd = np.nonzero(nonempty)[0][ok]
        centers[upd] = means[ok] / nrm[ok, None]
    return centers, assign


def _exact_home_prepare(bcenters, leaf_centers, leaf_branch):
    """Quantizer-derived scan state for :func:`_exact_home_angles`,
    factored out (r9) so callers that scan MANY matrices against ONE
    quantizer build it once: the executor esc-cap pass scans one Arrow
    batch per call, and rebuilding this state per batch — the
    ``leaves_of`` table alone is Θ(B·K) via per-branch ``nonzero``
    (~2.9e8 comparisons at the x100 probe shape), plus a K-row arccos
    and three B-row transcendental tables — dominated the batch's
    actual GEMM work (measured: esc_cap 121 s of the 223 s x100 fit
    at HEAD, almost all per-batch setup).  ``leaves_of`` itself now
    comes from :func:`_branch_leaves` (Θ(K log K)), same ascending
    index lists as the nonzero form."""
    import numpy as np

    n_b = len(bcenters)
    off = np.full(n_b, -np.inf)
    leaf_ang = np.arccos(np.clip(
        np.einsum("ij,ij->i", bcenters[leaf_branch], leaf_centers),
        -1.0, 1.0))
    np.maximum.at(off, leaf_branch, leaf_ang)
    has_leaf = off > -np.inf
    dead = np.nonzero(~has_leaf)[0]
    leaves_of = _branch_leaves(leaf_branch, n_b)
    bc32 = (bcenters / np.linalg.norm(bcenters, axis=1, keepdims=True)
            ).astype(np.float32)
    offc = np.where(has_leaf, off, 0.0)
    co32 = np.cos(offc).astype(np.float32)
    so32 = np.sin(offc).astype(np.float32)
    # π-mask threshold, shifted DOWN so the f32 compare can only
    # over-keep; leafless branches get -inf → always "kept" by the
    # mask, then removed by the has_leaf column mask
    pmo32 = np.where(has_leaf, np.pi - offc - 1e-6,
                     -np.inf).astype(np.float32)
    dim = bcenters.shape[1]
    # sound angle slack for a float32 dot of unit vectors: |Δcos| ≤
    # 3·dim·2⁻²⁴ → |Δθ| ≤ √(2·|Δcos|) globally (the near-0 worst case)
    ang_slack = float(np.sqrt(2.0 * 3.0 * dim * 2.0 ** -24))
    # cos-space epsilon: 2× the f32 dot bound + identity rounding
    eps32 = np.float32(2.0 * 3.0 * dim * 2.0 ** -24 + 1e-6)
    return (dead, leaves_of, bc32, co32, so32, pmo32, ang_slack, eps32)


def _exact_home_angles(mat, bcenters, leaf_centers, leaf_branch,
                       prep=None):
    """Exact home angle (nearest leaf over ALL leaves) for each
    (unit-normalized) row of ``mat``.  Driver-side, bounded point set
    (the fit sample).  The full-leaf minimum LOWER-bounds what the
    executor escalation path (top-``n_probe``-branch scan) achieves, so
    a cap built from it can only over-escalate — cost, never a radius.
    ``prep`` is the :func:`_exact_home_prepare` state (built here when
    not supplied — single-matrix callers are unchanged).

    The r7 form was one dense sample×K matmul — Θ(sample·K)·dim flops
    with BOTH factors ∝ n below the sample cap, measured 60 s of the
    126 s fit at the x100 probe shape (and ~20 min extrapolated at the
    1M-row cap).  This form prunes through the branch layer with the
    triangle inequality and stays EXACT: with ``off(β) = max over
    leaves c∈β of angle(β,c)``, every leaf of β satisfies ``angle(x,c)
    ≥ angle(x,β) − off(β)``, so after seeding ``best`` with an exact
    scan of the nearest-center branch's leaves, only branches with
    ``cos θ(β) > cos(best + off(β))`` can hold a nearer leaf.  The
    per-(point, branch) threshold comes from the angle identity
    ``cos(a+b) = cos a·cos b − sin a·sin b`` as two float32 in-place
    outer products — no transcendentals and no ordering over the
    block.  (Two cheaper forms were built and measured first: a GLOBAL
    ``off_max`` bound — one compare per entry — is poisoned by a
    single straggler leaf on real fits (off p50 31° but max 67° on the
    x100 probe sample → threshold ~cos 82° → 15% of all branches
    survive per point → 189 s, slower than brute); and an exact top-8
    argpartition seed whose f64 outer products cost 7 s per 13k-row
    chunk against the brute scan's 2.5 s.)  Survivors and the
    per-point minimum are exact float64 dots, so the result is the
    full-leaf exact minimum; the f32 dot and identity rounding are
    covered by a cos-space epsilon (over-keep only), and entries where
    ``best + off(β)`` passes π — where the identity value turns
    non-monotonic — are force-kept by an explicit mask.  Worst case
    (vacuous bound on structureless data) degrades to the r7 full
    scan, chunked."""
    import numpy as np

    xn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    n_b = len(bcenters)
    if prep is None:
        prep = _exact_home_prepare(bcenters, leaf_centers, leaf_branch)
    dead, leaves_of, bc32, co32, so32, pmo32, ang_slack, eps32 = prep

    def _scan(xc, rows, col, best):
        """Exact f64 leaf scan of branch col[i] for point rows[i],
        grouped by branch via sort-and-split (no per-branch full-column
        nonzero)."""
        order = np.argsort(col, kind="stable")
        sc = col[order]
        cuts = np.nonzero(np.diff(sc))[0] + 1
        for pos, s0 in zip(np.split(order, cuts),
                           np.concatenate(([0], cuts))):
            lidx = leaves_of[sc[s0]]
            if not len(lidx):
                continue
            r = rows[pos]
            ang = np.arccos(np.clip(
                (xc[r] @ leaf_centers[lidx].T).max(axis=1), -1.0, 1.0))
            best[r] = np.minimum(best[r], ang)

    hang = np.empty(len(xn))
    rchunk = max(1024, (192 << 20) // max(4, n_b * 4))
    for lo in range(0, len(xn), rchunk):
        xc = xn[lo:lo + rchunk]
        nc = len(xc)
        d = xc.astype(np.float32) @ bc32.T
        if len(dead):  # leafless branches: never a seed, never kept
            d[:, dead] = np.float32(-2.0)
        best = np.full(nc, np.inf)
        seed = d.argmax(axis=1)
        _scan(xc, np.arange(nc), seed, best)
        # survivors: β can only beat best if angle(x,β) < best +
        # off(β), i.e. cos θ(β) > cos(best + off(β)).  Per-entry
        # threshold via the angle identity, f32 in-place (soundness
        # argument in the docstring); everything kept is scanned
        # exactly, so the minimum stays the full-leaf exact minimum.
        bcl = np.minimum(best + ang_slack, np.pi)
        cb = np.cos(bcl).astype(np.float32)
        sb = np.sin(bcl).astype(np.float32)
        thr = np.multiply.outer(cb, co32)
        thr -= np.multiply.outer(sb, so32)
        thr -= eps32
        keep = d > thr
        # past π the identity value turns non-monotonic: force-keep
        # (any θ ≤ π trivially satisfies θ < best + off there)
        keep |= bcl.astype(np.float32)[:, None] > pmo32[None, :]
        if len(dead):
            keep[:, dead] = False
        keep[np.arange(nc), seed] = False
        ri, bj = np.nonzero(keep)
        if len(ri):
            _scan(xc, ri, bj, best)
        hang[lo:lo + rchunk] = best
    return hang


#: Above this many sample rows the esc-cap scan fans out to executors
#: (below it the Spark job overhead exceeds the driver scan).
ESC_SCAN_DRIVER_MAX_ROWS = 1 << 16

#: Row cap for the executor esc-cap scan (r9, VERDICT item 2's "cap the
#: sample for it with the bound documented").  The fit sample grows ∝ n
#: below FIT_SAMPLE_ROWS_CAP, and scanning ALL of it made the esc-cap
#: term the fit's largest residual (~100 s at the x100 probe even
#: executor-side: per-row cost is Θ(B) f32 compares + the survivor
#: exact scan, and B ∝ n^⅔).  The cap is sound because the esc cap
#: only bounds escalation COST: a max over FEWER same-distribution
#: draws is a (slightly) lower ceiling, so some extra borderline rows
#: take the exact top-P branch rescan — never a radius, never a
#: completeness term, and the output pairs are exact-verified
#: regardless (pairs pinned bit-equal at every probe scale either side
#: of this cap).  256k draws put the sample max well inside the
#: distribution tail; override via leaf/probe knobs is deliberate
#: non-API.
ESC_SCAN_ROWS_CAP = 1 << 18


def _esc_cap_max(spark, sample, bcenters, leaf_centers, leaf_branch,
                 base=None, frac=None, seed=None, dim=None, n_rows=None):
    """Max exact home angle of the fit sample — the esc-cap input.

    Both fit paths only consume ``_exact_home_angles(...).max()``, and
    the scan is embarrassingly parallel over sample rows with
    PARTITION-INVARIANT per-row results (the seed argmax, the survivor
    bound and the exact f64 re-scan are all row-local; chunking only
    groups work).  Small samples keep the driver scan: a Spark job
    costs more than the scan below ~64k rows.

    Executor form (r9, second revision): the first fan-out
    (``sc.parallelize`` over driver-held sample chunks) moved the GEMMs
    off the driver but still paid a single-threaded driver
    serialization of the whole sample out and per-task pickles back —
    measured as the dominant share of the remaining 40-100 s esc-cap
    term at the x100 probe.  This form never ships the sample at all:
    it re-samples the SAME Bernoulli fraction/seed from the cached
    ``base`` (the identical row set Spark's seeded per-partition
    sampler produced for the fit — a SUPERSET of the driver's
    eff_rows-downsampled fit sample, and a max over a superset of
    same-distribution rows is still the data's own home-angle
    ceiling; the cap bounds escalation COST, never completeness or
    output pairs, which are exact-verified), scans each Arrow batch
    against the broadcast quantizer in the python workers, and
    max-reduces one double per batch through a JVM aggregate.

    Third revision (r9): the scanned fraction is additionally CAPPED at
    ~ESC_SCAN_ROWS_CAP expected rows.  Spark's seeded Bernoulli sampler
    draws one uniform per row, so a SMALLER fraction at the SAME seed
    selects a subset of the larger fraction's rows — still the fit
    sample's own distribution, just fewer draws (see the constant's
    soundness note).  This removes the term's n-growth outright: the
    scan is Θ(min(sample, cap) · B)."""
    if (spark is None or base is None
            or len(sample) <= ESC_SCAN_DRIVER_MAX_ROWS):
        return float(_exact_home_angles(
            sample, bcenters, leaf_centers, leaf_branch).max())
    # the batch closure references _exact_home_angles BY MODULE
    # REFERENCE, so workers must be able to import this package even
    # when the driver runs from an arbitrary cwd
    from ..session import ensure_package_shipped

    ensure_package_shipped(spark)
    sc = spark.sparkContext
    bc = sc.broadcast((bcenters, leaf_centers, leaf_branch))
    out_schema = T.StructType([T.StructField("__m", T.DoubleType())])
    _dim = dim

    def batch_max(it):
        import pyarrow as _pa

        bcv, lcv, lbv = bc.value
        # quantizer scan state ONCE per task, not per Arrow batch
        # (_exact_home_prepare; measured a second-order win at x100 —
        # the scan's own Θ(rows·B) blocks dominate, hence the row cap)
        prep = _exact_home_prepare(bcv, lcv, lbv)
        for batch in it:
            if not batch.num_rows:
                continue
            mat = _vecs(batch, _dim)
            yield _pa.RecordBatch.from_arrays(
                [_pa.array(
                    [float(_exact_home_angles(mat, bcv, lcv, lbv,
                                              prep=prep).max())],
                    type=_pa.float64())],
                names=["__m"])

    eff_frac = frac
    if n_rows:
        eff_frac = min(frac, 1.05 * ESC_SCAN_ROWS_CAP / n_rows)
    try:
        row = (base.select("__v").sample(fraction=eff_frac, seed=seed)
               .mapInArrow(batch_max, out_schema)
               .agg(F.max("__m").alias("m")).collect())
        return float(row[0]["m"])
    finally:
        bc.unpersist()


def _sample_vectors(df, frac: float, seed: int, dim: int):
    """Bernoulli-sample ``__v`` and land it as a dense (rows, dim)
    float64 matrix via Arrow (r9): ``toPandas`` + ``np.array(list(...))``
    built one python object per row — measured as the dominant share of
    the in-operator fit stage at the x100 probe (the fit math itself is
    chunked BLAS).  ``toArrow`` keeps the list column as one flat buffer
    end to end; the reshape is the same zero-object pattern the Arrow
    passes use.  The collect ships FLOAT32 (second r9 revision): the
    sample only seeds quantizer fits (centers and the small-path
    esc-cap), whose quality tolerates the 2⁻²⁴ relative rounding —
    every emitted pair is exact-verified in float64 regardless — and
    the cast halves the one driver-bound transfer of the fit, which
    grows ∝ n below FIT_SAMPLE_ROWS_CAP."""
    import numpy as np

    tbl = (df.select(F.col("__v").cast("array<float>").alias("__v"))
           .sample(fraction=frac, seed=seed).toArrow())
    col = tbl.column("__v").combine_chunks()
    return (col.flatten().to_numpy(zero_copy_only=False)
            .reshape(-1, dim).astype(np.float64))


def _fit_two_level(sample_mat, k_leaf: int, n_branches: int, seed: int,
                   fit_seconds: dict[str, float] | None = None):
    """Two-level quantizer fit on a bounded sample: branches first, then
    per-branch leaves sized proportionally to branch population — the
    fit cost is Θ(sample · (B + K/B) · dim · iters) regardless of corpus
    size, the same bounded-fit contract as ``kmeans_ivf_cells`` but
    yielding K cells for a √K-per-row assignment cost.

    The branch Lloyd itself runs on a bounded SUB-sample of
    max(8·B, 64k) rows (≥8 points per branch, the same bounded-stage
    contract as the distributed fit's stage A): iterating 8 Lloyd
    rounds over the FULL auto-scaled sample was Θ(sample·B)·8 driver
    flops — 24 of the 126 s x100-probe fit — while the branch centers
    only seed the partition refinement and their quality saturates
    well below the full sample.  The full sample is then assigned to
    the fitted branch centers in one chunked pass (the Lloyd
    assignment step, once instead of ×8) so per-branch leaf fits keep
    the complete sample and the ≥4-points-per-leaf contract.
    ``fit_seconds`` receives the driver seconds of each sub-step."""
    import numpy as np

    fs = {} if fit_seconds is None else fit_seconds
    t = time.monotonic()
    b_rows = max(8 * n_branches, 1 << 16)
    if len(sample_mat) > b_rows:
        keep = np.random.default_rng(seed + 13).choice(
            len(sample_mat), size=b_rows, replace=False)
        bcenters, _ = _lloyd_rounds(
            sample_mat[np.sort(keep)], n_branches, seed)
        t = _lap(fs, "branch_lloyd", t)
        pts = sample_mat / np.linalg.norm(
            sample_mat, axis=1, keepdims=True)
        bassign = np.empty(len(pts), dtype=np.int64)
        chunk = max(1, (128 << 20) // max(1, len(bcenters) * 8))
        for lo in range(0, len(pts), chunk):
            bassign[lo:lo + chunk] = (
                pts[lo:lo + chunk] @ bcenters.T).argmax(axis=1)
        t = _lap(fs, "branch_assign", t)
    else:
        bcenters, bassign = _lloyd_rounds(sample_mat, n_branches, seed)
        t = _lap(fs, "branch_lloyd", t)
    leaf_centers, leaf_branch = [], []
    n = len(sample_mat)
    # one stable sort + O(1) slices instead of a full boolean mask scan
    # per branch (r9: B scans of the whole sample were Θ(B·sample) —
    # ~1.1e9 comparisons at the x100 fit shape — for work a single
    # argsort does once; stable order keeps each branch's rows in
    # original order, so the per-branch fits see identical inputs)
    border = np.argsort(bassign, kind="stable")
    sorted_sample = sample_mat[border]
    bounds = np.searchsorted(bassign[border],
                             np.arange(len(bcenters) + 1))
    for b in range(len(bcenters)):
        m = sorted_sample[bounds[b]:bounds[b + 1]]
        if not len(m):
            continue
        kb = max(1, min(len(m), round(k_leaf * len(m) / n)))
        cs, _ = _lloyd_rounds(m, kb, seed + 7919 * (b + 1))
        for c in cs:
            leaf_centers.append(c)
            leaf_branch.append(b)
    _lap(fs, "leaf_fits", t)
    return (
        np.asarray(bcenters),
        np.asarray(leaf_centers),
        np.asarray(leaf_branch, dtype=np.int64),
    )


def _fit_two_level_distributed(base, n_rows: int, leaf_target: int,
                               fit_sample_rows: int, seed: int, dim: int,
                               fit_seconds: dict[str, float] | None = None):
    """Two-STAGE quantizer fit that lifts the FIT_SAMPLE_ROWS_CAP
    driver ceiling (r7 verdict item 1): the driver-side fit needs ≥4
    sample rows per leaf, so past ~16M-row corpora (4·n/leaf_target >
    cap) K stopped tracking n/leaf_target, leaf populations grew ∝ n,
    and the in-leaf pair matmul reverted toward Θ(n²/K) — the exact
    defect class the r7 x30 profiling fixed, one order of magnitude up.

    Stage A (driver, bounded): fit the B branch centers on a Bernoulli
    sample of max(fit_sample_rows, 4·B) rows.  B = 2·K^⅔ grows only as
    (n/leaf_target)^⅔, so the DRIVER sample binds at B = cap/4 ≈ 262k
    branches ≈ a 3e9-row corpus — three orders past the old ceiling.

    Stage B (executors): a distributed Bernoulli sample of ~4·K rows —
    never collected as vectors — is assigned to its nearest stage-A
    branch in one Arrow pass (float32 GEMM; fit-side assignment is
    quality-only, the covering-radius completeness theorem never
    depends on how homes or fits were chosen), then each branch's
    leaves are fit INSIDE ``applyInArrow`` groups: a branch holding m
    sample rows fits ⌈m/4⌉ leaves, so K tracks n/leaf_target with the
    same ≥4-points-per-leaf contract while no single machine ever
    holds more than one branch's sample (expected 4·K/B = Θ(K^⅓) rows;
    pathological skew concentrates the sample in one group, which is
    also exactly the data the quantizer cannot help).

    Determinism: Spark's Bernoulli sample is seeded per partition, the
    group rows are sorted LEXICOGRAPHICALLY BY VECTOR before the
    seeded Lloyd (shuffle arrival order is nondeterministic; sorting
    by content makes the fit row-order-invariant without shipping
    ids), per-branch seeds match the driver fit's ``seed+7919·(b+1)``,
    and the collected leaf rows are sorted (branch, leaf_idx) driver-
    side.  The escalation cap reuses the stage-A sample through the
    same full-leaf exact scan as the driver fit.

    What remains bounded by a single machine: the K leaf centers
    themselves (K·dim·8 B driver + task-closure metadata — 512 MB at
    K=1M ≈ a 64M-row corpus at the default leaf_target; float32
    shipping and per-super center sharding are the next two doublings,
    documented in SCALE.md).  ``fit_seconds`` receives the driver
    seconds of each sub-step."""
    import numpy as np

    from ..session import ensure_package_shipped

    # stage-B closures call _lloyd_rounds by module reference: ship the
    # package so a driver running from an arbitrary cwd still works
    ensure_package_shipped(base.sparkSession)
    k_target = max(4, n_rows // leaf_target)
    n_branches = max(2, min(k_target,
                            round(2.0 * k_target ** (2.0 / 3.0))))
    a_rows = min(max(fit_sample_rows, 4 * n_branches),
                 FIT_SAMPLE_ROWS_CAP)
    frac = min(1.0, 1.05 * a_rows / n_rows)
    fs = {} if fit_seconds is None else fit_seconds
    t = time.monotonic()
    sample = _sample_vectors(base, frac, seed, dim)
    t = _lap(fs, "sample_collect", t)
    if len(sample) > a_rows:
        keep = np.random.default_rng(seed).choice(
            len(sample), size=a_rows, replace=False)
        sample = sample[np.sort(keep)]
    # branch Lloyd on a bounded sub-sample (≥8 points per branch) —
    # same rationale as _fit_two_level: 8 rounds over the full stage-A
    # sample is Θ(a_rows·B)·8 driver flops for center quality that
    # saturates far below it
    b_rows = max(8 * n_branches, 1 << 16)
    if len(sample) > b_rows:
        bkeep = np.random.default_rng(seed + 13).choice(
            len(sample), size=b_rows, replace=False)
        bcenters, _ = _lloyd_rounds(sample[np.sort(bkeep)],
                                    n_branches, seed)
    else:
        bcenters, _ = _lloyd_rounds(sample, n_branches, seed)
    t = _lap(fs, "branch_lloyd", t)
    bc32 = (bcenters / np.linalg.norm(bcenters, axis=1, keepdims=True)
            ).astype(np.float32)

    b_frac = min(1.0, 4.0 * k_target / n_rows)
    assign_schema = T.StructType([
        T.StructField("__b", T.IntegerType()),
        T.StructField("__v", T.ArrayType(T.DoubleType())),
    ])

    def assign_branch(it):
        import numpy as _np
        import pyarrow as _pa

        for batch in it:
            if not batch.num_rows:
                continue
            x = _vecs(batch, dim)
            xn32 = (x / _np.linalg.norm(x, axis=1, keepdims=True)
                    ).astype(_np.float32)
            b = (xn32 @ bc32.T).argmax(axis=1).astype(_np.int32)
            yield _pa.RecordBatch.from_arrays(
                [_pa.array(b, type=_pa.int32()),
                 batch.column(batch.schema.get_field_index("__v"))],
                names=["__b", "__v"])

    leaf_schema = T.StructType([
        T.StructField("__b", T.IntegerType()),
        T.StructField("__li", T.IntegerType()),
        T.StructField("__c", T.ArrayType(T.DoubleType())),
    ])

    def fit_leaves(key, tbl):
        import numpy as _np
        import pyarrow as _pa

        b = key[0].as_py() if hasattr(key[0], "as_py") else int(key[0])
        mat = (tbl.column("__v").combine_chunks().flatten()
               .to_numpy(zero_copy_only=False)
               .reshape(-1, dim).astype(_np.float64, copy=False))
        mat = mat[_np.lexsort(mat.T[::-1])]
        kb = max(1, min(len(mat), round(len(mat) / 4.0)))
        centers, _ = _lloyd_rounds(mat, kb, seed + 7919 * (b + 1))
        return _pa.table({
            "__b": _pa.array([b] * len(centers), type=_pa.int32()),
            "__li": _pa.array(range(len(centers)), type=_pa.int32()),
            "__c": _pa.array([list(map(float, c)) for c in centers]),
        })

    leaf_rows = (
        base.select("__v").sample(fraction=b_frac, seed=seed + 1)
        .mapInArrow(assign_branch, assign_schema)
        .groupBy("__b").applyInArrow(fit_leaves, leaf_schema)
        .collect()
    )
    leaf_rows.sort(key=lambda r: (r["__b"], r["__li"]))
    leaf_centers = np.array([r["__c"] for r in leaf_rows],
                            dtype=np.float64)
    leaf_branch = np.array([r["__b"] for r in leaf_rows], dtype=np.int64)
    t = _lap(fs, "dist_leaf_fit", t)
    esc_cap = _esc_cap_max(base.sparkSession, sample, bcenters,
                           leaf_centers, leaf_branch,
                           base=base, frac=frac, seed=seed,
                           dim=dim, n_rows=n_rows) + 0.05
    _lap(fs, "esc_cap", t)
    return np.asarray(bcenters), leaf_centers, leaf_branch, esc_cap


def _hier_fit(base, n_rows: int, *, leaf_target: int, seed: int,
              fit_sample_rows: int, cache_key, dim: int, stats: HierStats):
    """Hier phase 1: the bounded-sample quantizer fit, memoized per
    corpus snapshot.  Returns ``(bcenters, leaf_centers, leaf_branch,
    esc_cap)``."""
    # go distributed exactly where the driver fit's sample cap would
    # otherwise stop K from tracking n/leaf_target (the ~16M-row
    # ceiling; see _fit_two_level_distributed)
    want_rows = max(fit_sample_rows, 4 * max(1, n_rows // leaf_target))
    use_dist = want_rows > FIT_SAMPLE_ROWS_CAP
    stats.fit_mode = "distributed" if use_dist else "driver"

    def build():
        if use_dist:
            fit = _fit_two_level_distributed(
                base, n_rows, leaf_target, fit_sample_rows, seed, dim,
                fit_seconds=stats.fit_seconds)
            if len(fit[1]):
                return fit
            # stage-B Bernoulli sample came back empty (only possible
            # on tiny corpora): the bounded driver fit is exact there
            stats.fit_mode = "driver"
        return _hier_driver_fit(base, n_rows, want_rows,
                                leaf_target=leaf_target, seed=seed, dim=dim,
                                stats=stats)

    if cache_key is None:
        return build()
    return session_memo(
        base.sparkSession,
        ("two_level_fit", cache_key, leaf_target, seed, dim,
         fit_sample_rows, use_dist),
        build)


def _hier_driver_fit(base, n_rows: int, want_rows: int, *,
                     leaf_target: int, seed: int, dim: int, stats: HierStats):
    """:func:`_hier_fit`'s driver path: a two-level fit on a seeded
    sample of at most :data:`FIT_SAMPLE_ROWS_CAP` rows."""
    import numpy as np

    # Bernoulli sample, NO .limit(): limit keeps the FIRST rows in
    # file order, so on a corpus written in content-cluster order it
    # silently excludes the tail clusters from the fit — their
    # points then home ~90° away, poison those leaves' covering
    # radii, and the replication pass degenerates toward all-pairs
    # (measured on the 500k probe corpus: the last 24 of 500
    # clusters unsampled -> mean replication 210, a ~55 GB shuffle).
    # The expected sample size is 1.05·the effective cap (±3σ ≈
    # ±600 at these caps); the exact cap is enforced by a seeded
    # driver-side downsample, which stays uniform.
    #
    # The cap AUTO-SCALES with the corpus: k_leaf below needs ≥4
    # sample points per leaf, so a fixed sample silently caps K —
    # and with K capped, leaf POPULATIONS grow ∝ n and the in-leaf
    # pair matmul grows ∝ n²/K (measured: the x30 probe leg ran
    # e(x10→x30)=1.37 with K stuck at 8192 and 183-row leaves,
    # vs ≤1.0 everywhere K tracked n/leaf_target).  The
    # FIT_SAMPLE_ROWS_CAP ceiling bounds driver memory; past it
    # the quadratic-leaf regime honestly resumes (constant note).
    eff_rows = min(want_rows, FIT_SAMPLE_ROWS_CAP)
    frac = min(1.0, 1.05 * eff_rows / n_rows)
    t = time.monotonic()
    sample = _sample_vectors(base, frac, seed, dim)
    _lap(stats.fit_seconds, "sample_collect", t)
    if len(sample) > eff_rows:
        keep = np.random.default_rng(seed).choice(
            len(sample), size=eff_rows, replace=False)
        sample = sample[np.sort(keep)]
    k_leaf = max(4, min(n_rows // leaf_target, len(sample) // 4))
    # 2·K^⅔ branches: the three-level balance (see docstring) wants
    # B ∝ K^⅔ so leaves-per-branch is Θ(K^⅓); the constant keeps
    # branch covering radii at least as tight as r6's measured-best
    # 8·√K sizing at the probe scales where that was tuned (K≈7800:
    # 2K^⅔=790 vs 8√K=707 — branch-radius p50 stays ~45°, the
    # cluster band width) and GROWS past it for K > 4096, which
    # only improves the prune now that the super level absorbs the
    # branch-scan cost.  The r6 measurement that drove 8√K —
    # radii p50 94°→45° and 40× fewer leaf-filter dots as B rose —
    # is the same physics; only the scan-cost tradeoff moved.
    n_branches = max(2, min(k_leaf, round(2.0 * k_leaf ** (2.0 / 3.0))))
    two_level = _fit_two_level(sample, k_leaf, n_branches, seed,
                               fit_seconds=stats.fit_seconds)
    # ESCALATION CAP: exact-home the (already in-memory) sample
    # over ALL leaves (_exact_home_angles' full-leaf minimum, which
    # LOWER-bounds what the executor's top-P branch rescan can
    # achieve — see its docstring); its max + 3° is the data's
    # natural home-angle ceiling.  Any corpus point the approximate
    # super preselection homes ABOVE this cap gets re-homed by the
    # exact top-P branch scan.  Because the cap lower-bounds the
    # rescan, a rescanned point's achieved angle can still sit
    # somewhat above it — the guarantee is that misses trigger the
    # rescan (cost), not a hard radius bound; quality never depends
    # on the rescan landing under the cap, and completeness never
    # depends on home choice at all (ADVICE r7 wording fix).  A
    # quantile-based cap cannot give this guarantee: once K is
    # sample-capped, leaf POPULATIONS grow with n and the per-leaf
    # radius is a max over ever more draws, so ANY constant miss
    # rate poisons essentially every leaf (measured at x30: 5.17%
    # misses → p50 radius 68° → replication 2145 vs the exact
    # scan's 3.8; with the absolute cap the radii match the exact
    # scan at every probe scale).
    t = time.monotonic()
    esc_cap = _esc_cap_max(base.sparkSession, sample, *two_level,
                           base=base, frac=frac, seed=seed,
                           dim=dim, n_rows=n_rows) + 0.05
    _lap(stats.fit_seconds, "esc_cap", t)
    return (*two_level, esc_cap)


def _hier_assign(base, fit, id_type, *, dim: int, seed: int,
                 stats: HierStats):
    """Hier phase 2: pass-1 HOME assignment and the per-leaf covering
    radii.  Returns the cached home relation ``(__id, leaf_id, __hang,
    __vh)`` and the radius array (NaN for leaves no point homes in)."""
    import numpy as np

    bcenters, leaf_centers, leaf_branch, esc_cap = fit
    n_b = len(bcenters)
    leaves_of = _branch_leaves(leaf_branch, n_b)
    # --- third level: supers clustered over the BRANCH CENTERS (B
    # points, driver-side, milliseconds — recomputed per call, so the
    # memoized two-level fit tuple is unchanged).  S = √(P·B) minimizes
    # the per-row super-scan + probed-branch-scan sum S + P·B/S; with
    # B ∝ K^⅔ that is Θ(K^⅓).  Skipped below 24 branches, where the
    # branch scan is already trivial.
    scenters = None
    branches_of_super: list = []
    if n_b >= 24:
        n_s = max(2, min(n_b // 3,
                         round(math.sqrt(float(HOME_PROBES * n_b)))))
        scenters, s_of_b = _lloyd_rounds(bcenters, n_s, seed + 104729)
        n_s = len(scenters)
        branches_of_super = [np.nonzero(s_of_b == s)[0] for s in range(n_s)]
    stats.levels = 3 if scenters is not None else 2
    # Executor-side comparisons run in COSINE space on FLOAT32 center
    # matrices (r8): the r7 passes spent a large share of their wall on
    # arccos over n×B / n×K similarity blocks — a transcendental per
    # entry that exists only to compare against thresholds that are
    # themselves cos() of driver-side angles.  Comparing dots against
    # pre-cosined thresholds is the same decision with zero arccos, and
    # float32 halves the BLAS bytes+flops.  Soundness: a float32 dot of
    # unit vectors is within dim·2⁻²⁴ of exact (≈4e-6 at dim 64);
    # cos_slack over-admits every boundary decision by 3× that bound,
    # and the home angle shipped to the radius aggregate is slacked
    # UPWARD (cos − slack before the one per-ROW arccos) so covering
    # radii can only over-measure.  Over-admission is verified away by
    # the exact float64 expression; angles stay driver-side metadata.
    cos_slack = _cos_slack(dim)
    bc32 = bcenters.astype(np.float32)
    lc32 = leaf_centers.astype(np.float32)
    sc32 = scenters.astype(np.float32) if scenters is not None else None

    # --- pass 1: hierarchical HOME assignment (id -> leaf, home angle,
    # f16 nomination vector) — one Arrow map, Θ(n·(B + K/B)) flops.
    # ``__vh`` is the unit-normalized vector rounded to float16 and
    # shipped as its int16 bit pattern (Spark has no half type): pass 1
    # already holds the normalized rows in memory, so emitting it here
    # costs one rounding pass and gives the tail's home-side rows
    # their nomination vector with no re-read — HALF the bytes of the
    # old float32 form through the path's one big shuffle (measured
    # r9: the exchange+sort+Arrow transfer of the tagged relation was
    # ~69% of the pair-join tail at x30).  Pass 2 emits the identical
    # bits per replica row, so no vector-attach join exists anywhere
    # on the tail.  Nomination tolerates the rounding: margin note at
    # the tail.
    home_schema = T.StructType([
        T.StructField("__id", id_type),
        T.StructField("leaf_id", T.IntegerType()),
        T.StructField("__hang", T.DoubleType()),
        T.StructField("__vh", T.ArrayType(T.ShortType())),
    ])

    n_probe = max(1, min(HOME_PROBES, n_b))

    def _top_branches(xn32):
        """Per-row candidate home branches (n × ≤P), -1-padded.

        With supers: scan the S super centers, probe the top-P supers'
        branch sets, keep the best P branches by center similarity —
        Θ(S + P·B/S) per row instead of the full Θ(B) branch scan.
        The preselection is approximate (the true nearest branch could
        sit in an unprobed super); completeness NEVER depends on home
        choice (docstring), only radius quality does, and top-P supers
        cover ~P·B/S branches — more than the flat form's exact top-P.
        Without supers: the exact top-P over the full branch scan.
        """
        import numpy as _np

        if sc32 is None:
            bsim = xn32 @ bc32.T
            if n_probe < n_b:
                return _np.argpartition(-bsim, n_probe - 1, axis=1)[:, :n_probe]
            return _np.broadcast_to(_np.arange(n_b), (len(xn32), n_b)).copy()
        n_s = len(sc32)
        ssim = xn32 @ sc32.T
        ps = min(n_probe, n_s)
        if ps < n_s:
            stop = _np.argpartition(-ssim, ps - 1, axis=1)[:, :ps]
        else:
            stop = _np.broadcast_to(_np.arange(n_s), (len(xn32), n_s))
        cand_sim = _np.full((len(xn32), n_probe), -_np.inf, dtype=_np.float32)
        cand_b = _np.full((len(xn32), n_probe), -1, dtype=_np.int64)
        for p in range(stop.shape[1]):
            col = stop[:, p]
            for s in _np.unique(col):
                bl = branches_of_super[s]
                if not len(bl):
                    continue
                rows = _np.nonzero(col == s)[0]
                lsim = xn32[rows] @ bc32[bl].T
                # merge this super's branches into the per-row best-P
                # (supers partition branches and probed supers are
                # distinct per row, so no duplicate candidates)
                m_sim = _np.concatenate([cand_sim[rows], lsim], axis=1)
                m_b = _np.concatenate(
                    [cand_b[rows], _np.broadcast_to(bl, lsim.shape)],
                    axis=1)
                idx = _np.argpartition(
                    -m_sim, n_probe - 1, axis=1)[:, :n_probe]
                rr = _np.arange(len(rows))[:, None]
                cand_sim[rows] = m_sim[rr, idx]
                cand_b[rows] = m_b[rr, idx]
        return cand_b

    cos_esc = np.float32(math.cos(min(math.pi, esc_cap)))

    def _probe_home(cand, rows_sel, xn32, leaf, hsim):
        """Nearest leaf among the candidate branches' leaves;
        cand rows are positions into rows_sel.  hsim is the running
        best SIMILARITY (cos, descending — angle space stays driver
        metadata)."""
        import numpy as _np

        for p in range(cand.shape[1]):
            hb = cand[:, p]
            for b in _np.unique(hb):
                if b < 0:  # -1 padding: fewer than P branches
                    continue
                pos = _np.nonzero(hb == b)[0]
                rows = rows_sel[pos]
                lidx = leaves_of[b]
                if not len(lidx):
                    continue
                lsim = xn32[rows] @ lc32[lidx].T
                j = lsim.argmax(axis=1)
                best = lsim[_np.arange(len(rows)), j]
                better = best > hsim[rows]
                rr = rows[better]
                leaf[rr] = lidx[j][better].astype(_np.int32)
                hsim[rr] = best[better]

    def _home_batch(xn32):
        """Per-row home (leaf id, home similarity) for a unit-row
        float32 matrix."""
        import numpy as _np

        # candidate branches per row (see docstring: home QUALITY
        # sets the covering radii; a top-1 misassignment poisons a
        # leaf)
        top = _top_branches(xn32)
        leaf = _np.zeros(len(xn32), dtype=_np.int32)
        hsim = _np.full(len(xn32), -_np.inf, dtype=_np.float32)
        _probe_home(top, _np.arange(len(xn32)), xn32, leaf, hsim)
        miss = _np.nonzero(_np.isneginf(hsim))[0]
        if len(miss):  # every probed branch leaf-less: exact fallback
            lsim = xn32[miss] @ lc32.T
            j = lsim.argmax(axis=1)
            leaf[miss] = j.astype(_np.int32)
            hsim[miss] = lsim[_np.arange(len(miss)), j]
        if sc32 is not None:
            # ESCALATION — the home-quality self-check that makes
            # the approximate super preselection safe: a
            # preselection miss homes a point far from any probed
            # leaf (measured ~70° vs the ~30° cluster band), and
            # ONE such point per leaf inflates that leaf's
            # covering radius enough to admit a large corpus slice
            # as replicas (the r6 top-1-branch lesson, one level
            # up: probing supers by center angle alone measured
            # replication 13.5/23.4/110/2145 at x1/x3/x10/x30 —
            # exploding — vs the exact scan's flat ~4-12).  Every
            # row homed above the fit-derived absolute cap (see
            # the esc_cap comment at the fit) re-runs the exact
            # top-P branch scan: no NON-escalated point can sit above
            # the data's own ceiling whatever the miss RATE, and the
            # miss cost is one rescan (whose achieved angle can still
            # exceed the cap — the full-leaf fit bound lower-bounds
            # the top-P rescan; cost, never a correctness term).
            esc = _np.nonzero(hsim < cos_esc)[0]
            if len(esc):
                bsim = xn32[esc] @ bc32.T
                if n_probe < n_b:
                    etop = _np.argpartition(
                        -bsim, n_probe - 1, axis=1)[:, :n_probe]
                else:
                    etop = _np.broadcast_to(
                        _np.arange(n_b), (len(esc), n_b))
                _probe_home(etop, esc, xn32, leaf, hsim)
        return leaf, hsim

    def assign_home(it):
        # NOT batch-coalesced, by measurement (r9 third session): the
        # "coalesce to COALESCE_ROWS like pass 2" idea was built and
        # A/B-probed — pairs bit-identical, but assign_radii ran ~2×
        # SLOWER at x10 (1.97→4.49 s) and x30 (5.08→10.28 s) on a run
        # whose other stages were faster.  Mechanism: _probe_home /
        # _top_branches are gather-bound (xn32[rows] fancy-indexing per
        # probed super/branch group); a ~10k-row batch's 2.5 MB f32
        # working set stays cache-resident across those passes, a 64k
        # flush's 16 MB does not.  Pass 2 still coalesces: its scan is
        # chunked dense GEMM, which streams regardless.
        import numpy as _np
        import pyarrow as _pa

        for batch in it:
            if not batch.num_rows:
                continue
            x = _vecs(batch, dim)
            xn = x / _np.linalg.norm(x, axis=1, keepdims=True)
            leaf, hsim = _home_batch(xn.astype(_np.float32))
            # ONE arccos per ROW (not per similarity entry), slacked so
            # the shipped home angle can only OVER-measure the float32
            # dot — covering radii never under-cover (cos_slack note).
            hang = _np.arccos(_np.clip(
                hsim.astype(_np.float64) - cos_slack, -1.0, 1.0))
            yield _pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index("__id")),
                 _pa.array(leaf, type=_pa.int32()),
                 _pa.array(hang, type=_pa.float64()),
                 _f16_list(xn, dim)],
                names=["__id", "leaf_id", "__hang", "__vh"],
            )

    home = base.select("__id", "__v").mapInArrow(assign_home, home_schema).cache()

    # --- radii: one K-row aggregate, collected as quantizer metadata
    # (bounded by the leaf count, not the data).
    radius_rows = (
        home.groupBy("leaf_id").agg(F.max("__hang").alias("__radius")).collect()
    )
    radius = np.full(len(leaf_centers), np.nan)
    for r in radius_rows:
        radius[r["leaf_id"]] = r["__radius"]
    return home, radius


def _hier_replicate(base, fit, radius, id_type, *, threshold: float,
                    dim: int, stats: HierStats) -> DataFrame:
    """Hier phase 3: the covering-radius REPLICATION relation ``(__id,
    leaf_id, __vh)`` — every leaf that can host a qualifying partner of
    each row.  Lazy: the guard (or else the tail) runs it."""
    import numpy as np

    bcenters, leaf_centers, leaf_branch, _ = fit
    n_b = len(bcenters)
    theta_t = math.acos(max(-1.0, min(1.0, threshold)))
    eps = 1e-6  # float-acos slack; over-assignment is verified away
    cos_slack = _cos_slack(dim)
    bc32 = bcenters.astype(np.float32)
    lc32 = leaf_centers.astype(np.float32)
    live = ~np.isnan(radius)  # leaves with no home can't host a partner
    live_idx = np.nonzero(live)[0]
    # s_c = angle(branch(c), c) + R_c per live leaf, computed ONCE
    # (r9): branch_R(β) = max_{c∈β} s_c comes from one K-row einsum +
    # maximum.at instead of a Θ(B) python loop of per-branch 1×|β|
    # matmuls, and the tiering below reuses the same s_c values.
    s_live = np.full(len(leaf_centers), np.inf)
    branch_r = np.full(n_b, -1.0)
    if len(live_idx):
        bl_ang = np.arccos(np.clip(np.einsum(
            "ij,ij->i", bcenters[leaf_branch[live_idx]],
            leaf_centers[live_idx]), -1.0, 1.0))
        s_live[live_idx] = bl_ang + radius[live_idx]
        np.maximum.at(branch_r, leaf_branch[live_idx], s_live[live_idx])
    # per-target-leaf / per-branch admit thresholds, pre-cosined: the
    # executor compares float32 dots against them — no arccos in
    # pass 2 at all.  Dead leaves/branches keep +2.0 = never admitted.
    cos_thr_leaf = np.full(len(leaf_centers), 2.0, dtype=np.float32)
    cos_thr_leaf[live_idx] = (
        np.cos(np.minimum(np.pi, theta_t + eps + radius[live_idx]))
        - cos_slack).astype(np.float32)

    def _cos_thr_branch(branch_radius):
        thr = np.full(n_b, 2.0, dtype=np.float32)
        ok = np.nonzero(branch_radius >= 0.0)[0]
        thr[ok] = (np.cos(np.minimum(np.pi, theta_t + eps + branch_radius[ok]))
                   - cos_slack).astype(np.float32)
        return thr

    leaves_of = _branch_leaves(leaf_branch, n_b)
    tight_leaves_of = [lidx[live[lidx]] for lidx in leaves_of]
    cos_thr_branch = _cos_thr_branch(branch_r)

    # --- leaf-radius TIERING (r8, measured at the x100 probe):
    # branch_R(β) is a MAX over s_c = angle(β,c)+R_c, and the real
    # fit's radius TAIL (s_c p50 ≈ 31° but p90 ≈ 56° on the x100
    # sample) drives every branch's admit threshold toward cos(θ_t +
    # 67°) ≈ 0.08 — ~25% of ALL branches admitted per row, so the
    # "pruned" leaf filter silently degraded to ~K/4 dots per row plus
    # ~3k group gathers per 4k-row chunk (the 257 s replication pass;
    # the n×B GEMM itself is ~5 s).  Fix: the top ~⅛ of live leaves by
    # s_c move to a WIDE tier that every row dense-scans in one
    # chunked f32 GEMM against the exact per-leaf thresholds (pure
    # BLAS, no groups); the remaining branches keep a quantile-bounded
    # radius, restoring the prune.  Both tests are the identical exact
    # per-leaf admit, so the tier union is the same replica relation
    # (pinned by the hier≡blocked equality tests).  The wide tier is
    # capped at 32k centers (8 MB f32 closure): past that the quantile
    # slides up and branch bounds loosen gradually — an honest
    # measured tradeoff, not a cliff (SCALE.md r8).
    wide_idx = np.empty(0, dtype=np.int64)
    n_wide = min(len(live_idx) // 8, 32768) if len(live_idx) >= 64 else 0
    if n_wide:
        # exact n_wide selection by argpartition (ADVICE r8 #2: a
        # >=-quantile mask lets ties at the quantile value push the
        # wide tier arbitrarily past the cap — in the all-equal
        # degenerate case EVERY live leaf went wide, emptying the
        # tight tier and turning the scan into an unbounded dense
        # n x K GEMM).  Tier membership is strategy only — both
        # tiers apply the identical exact per-leaf admit test — so
        # the replica relation is unchanged by the split choice.
        sel = np.argpartition(s_live[live_idx], -n_wide)[-n_wide:]
        wide_mask = np.zeros(len(leaf_centers), dtype=bool)
        wide_mask[live_idx[sel]] = True
        wide_idx = np.nonzero(wide_mask)[0]
        tight_leaves_of = [
            lidx[~wide_mask[lidx]] for lidx in tight_leaves_of]
        branch_rt = np.full(n_b, -1.0)
        for b in range(n_b):
            if len(tight_leaves_of[b]):
                branch_rt[b] = s_live[tight_leaves_of[b]].max()
        cos_thr_branch = _cos_thr_branch(branch_rt)
    lcw32 = lc32[wide_idx]
    cos_thr_wide = cos_thr_leaf[wide_idx]
    stats.wide_leaves = len(wide_idx)

    # --- pass 2: covering-radius REPLICATION — same Arrow shape as
    # pass 1.  Each replica row carries the f16 nomination vector
    # DIRECTLY (r9): pass 2 already holds the float64-normalized rows
    # in memory, so emitting the same f16 bits pass 1 ships costs one
    # rounding pass + a row gather, and the tail then needs NO
    # vector-attach join at all — the old ``(rep ∪ home) ⋈ home``
    # re-attach shuffled the full replica relation plus the
    # corpus-sized ``__vh`` projection by ``__id`` before the leaf
    # exchange could even start.  The guard cache grows from id-only
    # to id+f16 (≈10×128 B per corpus row at the probe shapes) —
    # MEMORY_AND_DISK, spills gracefully — in exchange for one fewer
    # full-relation exchange and hash join on the path's biggest
    # relation.
    rep_schema = T.StructType([
        T.StructField("__id", id_type),
        T.StructField("leaf_id", T.IntegerType()),
        T.StructField("__vh", T.ArrayType(T.ShortType())),
    ])

    def _admits(xn32):
        """Row-chunked n×B float32 GEMMs admit (row, branch) pairs
        (d ≥ cos(θ_t+eps+branch_R) − slack — implied by any
        qualifying leaf of that branch, so completeness is the
        leaf-level theorem), then only admitted branches' live leaves
        get the exact per-leaf test (d ≥ cos(θ_t+eps+R_c) − slack).
        Returns the (row, leaf) admit index lists.

        Row chunks keep the sim block ≤ ~48 MB: the first r8 form ran
        the GEMM over the whole 64k-row flush, and at the x100 probe
        shape (B=3652) that allocated a ~1 GB float32 block + 230 MB
        bool mask in EVERY python worker per flush — 32 workers of
        concurrent allocation churn measured as the dominant share of
        a 357 s replication pass whose actual GEMM+filter math is
        ~15 executor-seconds.  Admits are then grouped by branch from
        one flat nonzero over the (tiny) admit set instead of a
        per-branch strided column scan — the B-iteration python loop
        with a 64k-element nonzero per branch was the other
        Θ(flushes·B) term (measured 3.4 s vs 0.55 s per flush at the
        x100 shape, driver microbench)."""
        import numpy as _np

        src_list: list = []
        leaf_list: list = []
        # WIDE tier: the exact per-leaf admit as one dense chunked
        # GEMM — covers the leaves whose radius tail would otherwise
        # poison their branch's bound (tiering note at the driver)
        if len(wide_idx):
            # floor 512, not 4096 (ADVICE r8 #1): at the 32k wide-tier
            # cap a 4096-row floor made the sim block 4096·32768·4 B =
            # 512 MB per worker — >10x the ~48 MB bound this chunking
            # exists to guarantee, partially re-creating the
            # concurrent-allocation churn it was built to fix.  512
            # rows keeps the block ≤ 48 MB up to 24k wide leaves and
            # ≤ 64 MB at the cap.
            wchunk = max(512, (48 << 20) // max(1, len(wide_idx) * 4))
            for lo in range(0, len(xn32), wchunk):
                ws = xn32[lo:lo + wchunk] @ lcw32.T
                ri, wj = _np.nonzero(ws >= cos_thr_wide[None, :])
                if len(ri):
                    src_list.append(lo + ri)
                    leaf_list.append(wide_idx[wj])
        # TIGHT tier: branch prune (quantile-bounded radius) + exact
        # per-leaf admit on admitted branches' tight leaves
        rchunk = max(4096, (48 << 20) // max(1, n_b * 4))
        for lo in range(0, len(xn32), rchunk):
            okb = (xn32[lo:lo + rchunk] @ bc32.T) >= cos_thr_branch[None, :]
            ri, bj = _np.nonzero(okb)
            if not len(ri):
                continue
            order = _np.argsort(bj, kind="stable")
            rb, bb = ri[order], bj[order]
            cuts = _np.nonzero(_np.diff(bb))[0] + 1
            for rows, s0 in zip(_np.split(rb, cuts),
                                _np.concatenate(([0], cuts))):
                lidx = tight_leaves_of[bb[s0]]
                if not len(lidx):
                    continue
                rows = lo + rows
                lsim = xn32[rows] @ lc32[lidx].T
                li, lj = _np.nonzero(lsim >= cos_thr_leaf[lidx][None, :])
                if len(li):
                    src_list.append(rows[li])
                    leaf_list.append(lidx[lj])
        return src_list, leaf_list

    def flush(batches):
        import numpy as _np
        import pyarrow as _pa

        tbl = _pa.Table.from_batches(batches)
        x = (tbl.column("__v").combine_chunks().flatten()
             .to_numpy(zero_copy_only=False)
             .reshape(-1, dim).astype(_np.float64, copy=False))
        xn = x / _np.linalg.norm(x, axis=1, keepdims=True)
        src_list, leaf_list = _admits(xn.astype(_np.float32))
        if not src_list:
            return None
        src = _np.concatenate(src_list)
        # f16 bits of the float64-normalized unit rows — the SAME
        # values pass 1 ships for these ids (identical float64
        # normalization + f16 rounding), gathered per replica row
        return _pa.RecordBatch.from_arrays(
            [tbl.column("__id").combine_chunks().take(
                _pa.array(src, type=_pa.int64())),
             _pa.array(_np.concatenate(leaf_list).astype(_np.int32),
                       type=_pa.int32()),
             _f16_list(xn, dim, src)],
            names=["__id", "leaf_id", "__vh"],
        )

    def replicate(it):
        # COALESCE_ROWS batching (results are per-row, so grouping is
        # timing-only — see the constant's doc)
        pend: list = []
        n_pend = 0
        for batch in it:
            if not batch.num_rows:
                continue
            pend.append(batch)
            n_pend += batch.num_rows
            if n_pend >= COALESCE_ROWS:
                out = flush(pend)
                if out is not None:
                    yield out
                pend, n_pend = [], 0
        if pend:
            out = flush(pend)
            if out is not None:
                yield out

    return base.select("__id", "__v").mapInArrow(replicate, rep_schema)


def _hier_tail(base, home, rep, id_type, *, threshold: float, dim: int,
               n_rows: int, mean_rep) -> DataFrame:
    """Hier phase 4 (lazy; runs when the caller materializes the
    result): leaf-grain candidate nomination over the tagged union of
    replicas and homes, then exact verification."""
    from ..session import _conf_int

    # --- leaf-grain CANDIDATE generation: inside each leaf a numpy
    # replicas·homesᵀ matmul nominates the pairs at cosine ≥ threshold
    # − margin, so the exact verify join only ships vectors for an
    # OUTPUT-sized relation — the blocked path's candidates-only
    # contract, applied per leaf.  Tail shape (r9, second revision):
    # both passes EMIT the f16 nomination vector with every row, so
    # the tagged relation is a plain union — the r6-r8 vector-attach
    # hash join (which shuffled the full replica relation plus a
    # corpus-sized ``__vh`` projection by ``__id`` before the leaf
    # exchange) is gone — and leaf grouping is ONE hash exchange on
    # ``leaf_id`` + an in-worker numpy argsort/split per partition
    # (``repartition + mapInArrow``) instead of
    # ``groupBy().applyInArrow``, whose physical plan appends a full
    # row SORT of the path's biggest relation after the exchange plus
    # one Python call per leaf (~K calls of ~leaf_target rows).
    # Sorting the (int32 leaf_id) key column inside the worker costs
    # Θ(rows log rows) on 4-byte keys, not Θ(rows log rows) UnsafeRow
    # comparisons on ~150 B rows, and the pair math is batched per
    # PARTITION.  Grouping correctness: hash partitioning sends every
    # row of a leaf to the same partition; row order within the leaf
    # is irrelevant (the nomination is a set filter and .distinct()
    # owns dedup), so the output is unchanged (pinned by the
    # hier≡blocked bit-equality tests).
    #
    # Nomination ships UNIT-NORMALIZED FLOAT16 vectors (r9; the r6-r8
    # form shipped float32): the tagged relation (replicas × vector
    # payload) is the path's one big shuffle, measured as ~69% of the
    # pair-join tail at the x30 probe, and candidate NOMINATION
    # tolerates rounding.  Soundness of the wider margin: normalizing
    # in float64 FIRST keeps every component in [-1, 1] (no overflow
    # on cast — ADVICE r6), a unit vector rounded to f16 has
    # ‖Δ‖₂ ≤ 2⁻¹¹, so for unit a, b:
    #   |a16·b16 − a·b| ≤ ‖Δa‖ + ‖Δb‖ + ‖Δa‖‖Δb‖ < 9.8e-4,
    # plus the float32 matmul accumulation (< dim·2⁻²⁴ ≈ 4e-6) — the
    # 2e-3 margin covers the worst case 2× over.  Every qualifying
    # pair therefore still clears the cut; the extra near-threshold
    # nominations are decided by the exact float64 verification
    # expression below, so the OUTPUT is unchanged.
    margin = 2e-3
    cut = threshold - margin
    tagged = (
        rep.withColumn("__side", F.lit(0))
        .unionByName(home.select("__id", "leaf_id", "__vh",
                                 F.lit(1).alias("__side")))
        .select("leaf_id", "__id", "__vh", "__side")
    )
    cand_schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
    ])

    def leaf_pairs_part(it):
        # One call per shuffle PARTITION: buffer the partition (its
        # size is bounded by corpus/shuffle.partitions × replication —
        # the same order as the per-task flush the replicate pass
        # already holds), group rows by leaf with one int32
        # argsort/split, and run the per-leaf nomination matmuls over
        # f32 views of the partition-wide f16 matrix.  IDs are selected
        # from the Arrow column by INDEX (take), so the output type
        # matches the input id type exactly whatever it is.
        import numpy as _np
        import pyarrow as _pa

        batches = [b for b in it if b.num_rows]
        if not batches:
            return
        tbl = _pa.Table.from_batches(batches)
        leaf = tbl.column("leaf_id").to_numpy(zero_copy_only=False)
        side = tbl.column("__side").to_numpy(zero_copy_only=False)
        idcol = tbl.column("__id").combine_chunks()
        mat16 = (tbl.column("__vh").combine_chunks().flatten()
                 .to_numpy(zero_copy_only=False)
                 .reshape(-1, dim).view(_np.float16))
        ids = idcol.to_numpy(zero_copy_only=False)
        order = _np.argsort(leaf, kind="stable")
        sl = leaf[order]
        cuts_ = _np.nonzero(_np.diff(sl))[0] + 1
        lo_all: list = []
        hi_all: list = []
        for idx, s0 in zip(_np.split(order, cuts_),
                           _np.concatenate(([0], cuts_))):
            gs = side[idx]
            r = idx[gs == 0]
            h = idx[gs == 1]
            if not len(r) or not len(h):
                continue
            # __vh is the f16 rounding of the float64-normalized unit
            # row — the f32 matmul is the cosine to < 1e-3 (margin
            # bound above), so no per-group norm recompute (ADVICE r6).
            sims = mat16[r].astype(_np.float32) @ \
                mat16[h].astype(_np.float32).T
            ri, hj = _np.nonzero(sims >= cut)
            if not len(ri):
                continue
            ra_idx, hb_idx = r[ri], h[hj]
            keep = ids[ra_idx] != ids[hb_idx]
            ra_idx, hb_idx = ra_idx[keep], hb_idx[keep]
            a_first = ids[ra_idx] < ids[hb_idx]
            lo_all.append(_np.where(a_first, ra_idx, hb_idx))
            hi_all.append(_np.where(a_first, hb_idx, ra_idx))
        if not lo_all:
            return
        # no per-leaf dedup: the same unordered pair CAN surface twice
        # in one leaf (a-as-replica x b-as-home and vice versa) but the
        # relation is output-sized and .distinct() below owns dedup.
        yield _pa.RecordBatch.from_arrays(
            [idcol.take(_pa.array(_np.concatenate(lo_all),
                                  type=_pa.int64())),
             idcol.take(_pa.array(_np.concatenate(hi_all),
                                  type=_pa.int64()))],
            names=["id_a", "id_b"])

    # Partition-count floor (guide §5 / r9 VERDICT item 4): bound
    # leaf_pairs_part's whole-partition Arrow buffer by tagged-relation
    # bytes.  None at bench scales (plan unchanged, AQE coalescing
    # preserved); a pinned count only when the default quotient would
    # exceed LEAF_PART_TARGET_BYTES per task.  Hash partitioning by
    # leaf_id is what the grouping needs either way, so the output is
    # invariant to the count.
    tail_parts = _tail_partition_floor(
        n_rows, mean_rep, dim,
        # 200 is Spark's own default for the conf.
        _conf_int(base.sparkSession.conf, "spark.sql.shuffle.partitions",
                  200))
    cands = (
        (tagged.repartition(tail_parts, "leaf_id") if tail_parts
         else tagged.repartition("leaf_id"))
        .mapInArrow(leaf_pairs_part, cand_schema)
        .distinct()  # cross-leaf AND in-leaf mirrored duplicates
    )
    a = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
                    F.col("__n2").alias("__na2"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
                    F.col("__n2").alias("__nb2"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.expr(cosine_prenormed_sql("__va", "__vb", "__na2", "__nb2", dim)),
                6,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs_hier(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    leaf_target: int = 64,
    seed: int = 42,
    fit_sample_rows: int = 32768,
    cache_key: str | None = None,
    max_replication: float | None = 32.0,
    guard_min_rows: int = 50_000,
    stats: HierStats | None = None,
) -> DataFrame:
    """Exact-COMPLETE cosine pair search with a THREE-LEVEL quantizer
    (supers → branches → leaves) — the 100-TB form of
    :func:`embedding_near_dup_pairs` (SemDeDup-style corpora; Abbas et
    al. 2023 run the same cluster-then-pair shape but accept boundary
    misses — here a covering-radius multi-assignment makes the
    candidate set provably complete).

    Completeness argument (angles on the unit sphere; scaling never
    changes an angle, so raw vectors inherit it): let ``θ_t =
    arccos(threshold)`` and ``R_c`` = covering radius of leaf ``c``
    (max angle from a home member to its center).  For any qualifying
    pair ``angle(a,b) ≤ θ_t`` with ``b`` home in leaf ``c``, the
    triangle inequality gives ``angle(a, c) ≤ angle(a,b) + angle(b, c)
    ≤ θ_t + R_c`` — so replicating every point into every leaf within
    ``θ_t + R_c (+ ε for float acos)`` of it guarantees ``a``'s replica
    set contains ``b``'s home leaf.  Lifted level by level: with
    ``branch_R(β) = max over leaves c∈β of (angle(β,c) + R_c)``, the
    same partner satisfies ``angle(a, β) ≤ angle(a,c) + angle(c,β) ≤
    (θ_t + R_c) + angle(c,β) ≤ θ_t + branch_R(β)`` — so pruning
    branches first loses nothing, and the leaf filter ``angle(a, c) ≤
    θ_t + R_c`` finishes the search.  The argument never depends on HOW
    homes were chosen, only that ``R_c`` is the max home-member angle —
    so a vectorized assignment is safe.  Candidates are the per-leaf
    replica×home pairs (a pair can co-occur in two leaves); every
    candidate is re-verified with the exact unrolled cosine expression
    the brute path uses, so over-assignment costs time, never
    correctness, and the output is bit-identical to brute force.

    HOME assignment searches the ``HOME_PROBES`` best branches found
    through the top-``HOME_PROBES`` supers, not just the top one —
    then RE-HOMES every point whose achieved home angle exceeds a
    fit-derived absolute cap through an exact branch scan.
    Completeness never depends on any of this (above), but
    covering-radius QUALITY does, catastrophically, at both levels: a
    point whose single nearest branch holds no leaf near it gets
    force-homed ~90° away (r6: top-1 homes → mean replication 210, a
    ~55 GB shuffle; top-8 → 9), and a point whose home super wasn't
    among the probed ones fails the same way one level up (measured:
    super-only preselection → replication 13.5/23.4/110/2145 at
    x1/x3/x10/x30, each caught by the runtime guard below).  The cap
    is the max exact-scan home angle of the FIT SAMPLE plus 3° — the
    data's own home-angle ceiling — so no non-escalated point can sit
    above it and the per-leaf radius max is immune to the miss RATE
    (a quantile-based escalation is not: with K sample-capped, leaf
    populations grow with n and any constant miss rate eventually
    poisons every leaf's max — measured at x30, 5.17% misses → p50
    radius 68° despite 2%-quantile escalation).  Assignment totals
    Θ(n·(S + P·B/S + P·K/B + miss_rate·B)) flops — every term Θ(K^⅓)
    except the measured-small escalation term, whose worst case
    (structureless data, 100% escalation) degrades to the exact scan,
    never below it.

    Why three levels (the inverted-multi-index shape; Babenko &
    Lempitsky 2012): the flat form scores every row against every cell
    — Θ(n·K) with K ∝ n is a hidden quadratic — and the per-leaf pair
    matmul needs SMALL cells (``leaf_target`` rows) to keep the
    candidate surface ≈ n·leaf_target·replication.  Small cells mean
    large K.  A two-level assignment costs Θ(n·(B + P·K/B)), minimized
    at B ∝ √K — still a Θ(n·√K) term, which r6 measured as the one
    remaining scale ceiling.  Balancing THREE levels (``S`` supers over
    ``B`` branches over ``K`` leaves, B ∝ K^⅔, S ∝ √(P·B) ∝ K^⅓)
    makes every ASSIGNMENT term — super scan, probed-branch scan,
    probed-leaf scan — Θ(K^⅓), plus the bounded 2%·B escalation term.
    The supers are fit driver-side over the BRANCH CENTERS (B points,
    milliseconds), so the bounded-sample fit contract is unchanged;
    below 24 branches the super level is skipped (the scan is already
    trivial and the extra indirection would only add overhead).

    The REPLICATION pass is a tiered flat scan in cos-space float32:
    an n×B branch GEMM prunes by branch radius, a dense wide tier
    covers the leaves whose radius tail would loosen their branch's
    bound, and the exact per-leaf admit finishes.  Its Θ(n·B) term,
    with B ∝ K^⅔ ∝ n^⅔, is the path's one superlinear term.  A
    home-conditioned candidate-list scan without it was built (r8) and
    lost every measurement this project could run (SCALE.md keeps its
    soundness argument and the numbers), so the scan is the only form.

    Execution shape (measured on the x1 probe corpus; see
    tools/embpairs_probe.py): assignment and replication are
    ``mapInArrow`` passes emitting rows of ids + the f16 nomination
    vector — Arrow list columns flatten to a dense (rows × dim) matrix
    with zero per-row Python objects, and the angle math is one numpy
    matmul per batch (the blocked path's candidates-only contract:
    numpy decides what gets VERIFIED, never a final value).  Shipping
    the f16 bits from the passes themselves (r9) removed the r6-r8
    vector-attach hash join: the tagged relation is a plain union that
    flows into ONE hash exchange on ``leaf_id``.  In-leaf candidate
    nomination is a per-shuffle-partition numpy argsort/split by leaf
    plus a replicas·homesᵀ matmul per leaf at ``threshold − margin``;
    survivors (an output-sized relation) get the exact expression.
    The quantizer (≤ K·dim doubles) is driver-held metadata shipped in
    task closures; the corpus never leaves executors.

    Full-corpus passes are linear in n at fixed ``leaf_target`` apart
    from the replication scan's Θ(n·B): Arrow assignment, Arrow
    replication, one groupBy over K radius rows, the one leaf-keyed
    exchange of the tagged relation (replication-factor × corpus
    volume in f16), the leaf-grain matmul, and exact verification of
    ~output-sized candidates.  The replication factor is the honest
    data-dependence: tight content clusters keep it small; uniform
    high-dim noise makes covering radii rival θ_t and degenerates
    toward all-pairs — the unavoidable cost of EXACT completeness on
    structureless data (the approximate alternatives are the
    SemDeDup/ANN paths).

    RUNTIME GUARD (r6 verdict item 2): once ``n ≥ guard_min_rows`` the
    replica relation — materialized before the expensive pair matmul —
    is cached and counted, and a mean replication factor above
    ``max_replication`` raises :class:`CoveringRadiusBlowupError`
    naming the approximate alternatives instead of silently shuffling
    a quadratic candidate surface (the r6 disk-filling incidents were
    exactly this, caught only by a human reading ``df -h``).  Clustered
    corpora measure ~9–12 (tools/embpairs_probe.py); structureless
    ones measure ≈ the live-leaf count.

    ``stats`` (a :class:`HierStats`) receives this call's record: the
    measured replication factor, K, the fit mode, the level count and
    the driver seconds of each phase — scan, fit, assign, replicate
    (which includes the guard; without the guard the replication pass
    runs inside the tail).  Each phase's Spark jobs carry the job tag
    ``hier:<phase>``.  The pair tail runs when the caller materializes
    the result; wrap that action in ``stats.phase(spark, "tail")`` to
    time and tag it too.
    """
    from ..session import ensure_package_shipped
    from .relational import spread

    stats = HierStats() if stats is None else stats
    spark = df.sparkSession
    # the Arrow passes call module helpers (_vecs, _f16_list) by
    # reference: ship the package so workers can import it from any cwd
    ensure_package_shipped(spark)
    id_type = df.select(F.col(id_col)).schema[0].dataType
    with stats.phase(spark, "scan"):
        # spread() BEFORE the cache: a single-file corpus reads as a
        # handful of scan partitions (768 MB -> 6 at x30), and base
        # feeds four full numpy/Arrow passes — under-partitioned, they
        # serialize onto 6 of 32 cores (measured: the home+replicate
        # passes alone ~150 s of the 248 s x30 wall before this line).
        base = (
            spread(df).select(
                F.col(id_col).alias("__id"),
                as_double_vec(F.col(vec_col)).alias("__v"),
            )
            .withColumn("__n2", F.expr(dot_sql("__v", "__v", dim)))
            # Zero-norm rows: cosine undefined, can never qualify (NaN
            # >= t is false; ANSI division would fail loudly) — and one
            # of them would poison its home leaf's covering radius.
            # See embedding_near_dup_pairs.
            .where(F.col("__n2") > 0)
            .cache()
        )
        n_rows = base.count()
    if n_rows == 0:
        return base.select(
            F.col("__id").alias("id_a"),
            F.col("__id").alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).where(F.lit(False))
    with stats.phase(spark, "fit"):
        fit = _hier_fit(
            base, n_rows, leaf_target=leaf_target, seed=seed,
            fit_sample_rows=fit_sample_rows, cache_key=cache_key,
            dim=dim, stats=stats)
    stats.k = len(fit[1])
    with stats.phase(spark, "assign"):
        home, radius = _hier_assign(base, fit, id_type, dim=dim,
                                    seed=seed, stats=stats)
    mean_rep = None
    with stats.phase(spark, "replicate"):
        rep = _hier_replicate(base, fit, radius, id_type,
                              threshold=threshold, dim=dim, stats=stats)
        if max_replication is not None and n_rows >= guard_min_rows:
            # Runtime blowup guard (docstring): small corpora skip it —
            # a sub-guard_min_rows worst case is trivial, and the extra
            # count action would dominate unit-test-sized runs.
            rep, mean_rep = _guard_replication(
                rep, n_rows, max_replication, threshold)
    stats.replication = mean_rep
    return _hier_tail(base, home, rep, id_type, threshold=threshold,
                      dim=dim, n_rows=n_rows, mean_rep=mean_rep)


def embedding_near_dup_pairs_auto(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    max_side_bytes: int = MAX_SIDE_MATRIX_BYTES,
    seed: int = 42,
    cache_key: str | None = None,
    max_replication: float | None = 32.0,
    on_blowup: str = "raise",
    guard_min_rows: int = 50_000,
    stats: HierStats | None = None,
) -> DataFrame:
    """Size-dispatched exact cosine pair search (r5 verdict item 1):
    below ``max_side_bytes`` the numpy-blocked matmul candidate path
    (:func:`embedding_near_dup_pairs_blocked` — fastest when every
    worker can hold the corpus matrix), above it the three-level
    cell-partitioned :func:`embedding_near_dup_pairs_hier` path, which
    has no per-worker matrix and no per-row full-cell scan.  Both paths
    verify candidates with the same exact expression, so the OUTPUT is
    identical either side of the cutover — this mirrors
    ``stats.series_corr_pairs_auto``, closing the last operator where
    a 100× scale-up needed a human decision.

    The dispatch count is a parquet-metadata count on the raw input
    (no materialization).  The hierarchical form sizes itself (≈ n/64
    leaves, 2·K^⅔ branches, √(P·B) supers; past the driver fit-sample
    cap the two-stage executor fit keeps K tracking n — see
    :func:`_fit_two_level_distributed`).  ``max_replication`` forwards
    to the hier path's runtime blowup guard
    (:class:`CoveringRadiusBlowupError`) — the big-corpus path fails
    loudly on structureless data instead of shuffling a quadratic
    candidate surface.

    ``on_blowup`` (r7 verdict item 5): ``"raise"`` (default) lets the
    guard's named error propagate — right for interactive use.
    ``"fallback"`` is the unattended-pipeline mode: a tripped guard
    routes to the APPROXIMATE SemDeDup-style within-cell pair search
    (k-means cells sized to the corpus, pairs within each cell only —
    the Abbas et al. 2023 shape, which accepts boundary misses) with a
    loud log line, and every result row carries a ``method`` column
    (``"exact"`` or ``"semdedup_cells"``) so downstream consumers can
    see which semantics they got.  The fallback NEVER activates
    without the guard actually tripping — clustered corpora keep the
    exact path and ``method="exact"`` (pinned in tests).

    ``stats`` (a :class:`HierStats`) records the chosen ``path`` and
    ``method`` and is forwarded to the hier path.
    """
    if on_blowup not in ("raise", "fallback"):
        raise ValueError(f"on_blowup={on_blowup!r}: expected "
                         "'raise' or 'fallback'")
    stats = HierStats() if stats is None else stats

    def _tag(res: DataFrame, method: str) -> DataFrame:
        stats.method = method
        if on_blowup == "fallback":
            return res.withColumn("method", F.lit(method))
        return res

    n_rows = df.count()
    est_bytes = n_rows * dim * 8
    if est_bytes <= max_side_bytes:
        stats.path = "blocked"
        return _tag(embedding_near_dup_pairs_blocked(
            df, id_col, vec_col, threshold=threshold, dim=dim,
            max_side_bytes=max_side_bytes,
        ), "exact")
    try:
        stats.path = "hier"
        return _tag(embedding_near_dup_pairs_hier(
            df, id_col, vec_col, threshold=threshold, dim=dim,
            seed=seed, cache_key=cache_key,
            max_replication=max_replication,
            guard_min_rows=guard_min_rows, stats=stats,
        ), "exact")
    except CoveringRadiusBlowupError as err:
        if on_blowup != "fallback":
            raise
        import logging

        logging.getLogger(__name__).warning(
            "embedding_near_dup_pairs_auto: covering-radius guard "
            "tripped (%s); falling back to APPROXIMATE SemDeDup-style "
            "within-cell pairs — output rows carry "
            "method='semdedup_cells'", err)
        stats.path = "semdedup_fallback"
        fb_cells = max(16, min(4096, n_rows // 256))
        assigned, _centers = kmeans_ivf_cells(
            df.where(F.expr(dot_sql(vec_col, vec_col, dim)) > 0),
            id_col, vec_col, n_cells=fb_cells, seed=seed, dim=dim,
            cache_key=cache_key,
        )
        res = embedding_near_dup_pairs(
            assigned, id_col, vec_col, threshold=threshold,
            cell_col="__cell", dim=dim)
        return _tag(res, "semdedup_cells")


def l2_normalize(vec_col: str, dim: int) -> Column:
    """Unit-normalize an array<double> column (expression HOF; O(n·dim)
    once per row, outside any pair join)."""
    return F.expr(
        f"transform({vec_col}, x -> x / sqrt({dot_sql(vec_col, vec_col, dim)}))"
    )


# Fitted-quantizer memo: the index BUILD (k-means fit / PQ codebooks) is a
# one-time artifact in any real deployment — queries run against a prebuilt
# index.  Callers opt in with an explicit ``cache_key`` naming the corpus
# snapshot (e.g. the sf_dir); the session memo key includes every fit
# parameter, so a hit returns the byte-identical quantizer the same call
# would have trained, and a new session never sees a stale JVM handle.  No
# implicit keying off DataFrame identity: an unnamed corpus always refits.


def kmeans_ivf_cells(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    max_iter: int = 5,
    seed: int = 42,
    dim: int = 64,
    cache_key: str | None = None,
):
    """Build a real IVF coarse quantizer: k-means over l2-normalized
    vectors (so euclidean cells follow cosine geometry).

    Returns ``(assigned, centers)``: the corpus with a ``__cell``
    column, and a small ``(cell_id, center: array<double>)`` frame.
    Distributed fit via pyspark.ml KMeans (fixed seed, bounded
    iterations); the fit is the index-build step and runs on a seeded
    sample capped at :data:`KMEANS_FIT_SAMPLE_ROWS` — centroid quality
    needs ~1000 points per cell, not the corpus, so the fit cost stays flat
    as data grows and only ``transform`` (one map over the data)
    touches every row.  The fixture's ``label`` column is NOT a geometric
    quantizer (cell-restricted recall 0.13 measured), which is why the
    engine builds its own cells instead of trusting a precomputed one.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    normed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        as_double_vec(F.col(vec_col)).alias("__dv"),
    ).withColumn("__nv", l2_normalize("__dv", dim))
    ml_df = normed.withColumn("__features", array_to_vector(F.col("__nv")))
    spark = corpus.sparkSession

    def fit():
        # The fit iterates over its input maxIter(+init) times: cache it
        # so each pass reads memory, not parquet+normalize, and right-size
        # the partitioning to the sample (a 32-partition layout on a
        # k-means SAMPLE means ~32 near-empty tasks per iteration —
        # measured 51 s vs ~4 s for the identical fit).  Seeded random
        # init skips k-means||'s extra distributed passes; with bounded
        # iterations on a quantizer (not a final clustering) quality is
        # equivalent.
        n = ml_df.count()
        fit_df = ml_df
        if n > KMEANS_FIT_SAMPLE_ROWS:
            # 1.05 headroom keeps the Bernoulli sample's expected size at
            # the cap; exactness doesn't matter, determinism (fixed seed)
            # does.
            fit_df = ml_df.sample(
                fraction=min(1.0, 1.05 * KMEANS_FIT_SAMPLE_ROWS / n),
                seed=seed)
            n = KMEANS_FIT_SAMPLE_ROWS
        fit_input = fit_df.coalesce(max(1, min(8, n // 2000 + 1))).cache()
        model = KMeans(
            k=n_cells,
            seed=seed,
            maxIter=max_iter,
            initMode="random",
            featuresCol="__features",
            predictionCol="__cell",
        ).fit(fit_input)
        fit_input.unpersist()
        return model

    model = fit() if cache_key is None else session_memo(
        spark, ("kmeans_model", cache_key, n_cells, max_iter, seed, dim,
                KMEANS_FIT_SAMPLE_ROWS), fit)
    assigned = model.transform(ml_df).select(id_col, vec_col, "__cell")
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell_id int, center array<double>",
    )
    return assigned, centers


def topk_neighbors_ivf_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 3,
    dim: int = 64,
    max_iter: int = 5,
    seed: int = 42,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF ANN with a k-means quantizer and ``n_probe`` nearest cells.

    Queries rank the (tiny, broadcast) centroid set by true cosine and
    probe their top ``n_probe`` cells; scoring/top-k reuses the exact
    expression path restricted to those cells.  As with LSH
    multi-probe, a corpus vector lives in exactly one cell, so probes
    never duplicate (query, neighbor) pairs.
    """
    from pyspark.sql.window import Window

    assigned, centers = kmeans_ivf_cells(
        corpus, id_col, vec_col, n_cells, max_iter, seed, dim, cache_key=cache_key
    )
    q = queries.select(
        F.col(id_col), F.col(vec_col), as_double_vec(F.col(vec_col)).alias("__qdv")
    )
    scored_cells = q.crossJoin(F.broadcast(centers)).withColumn(
        "__cdist", F.expr(cosine_sql("__qdv", "center", dim))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__cdist"), F.col("cell_id"))
    probed = (
        scored_cells.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= n_probe)
        .select(id_col, vec_col, F.col("cell_id").alias("__cell"))
    )
    return topk_neighbors(assigned, probed, id_col, vec_col, k=k, cell_col="__cell", dim=dim)


QUANT_STATS_SCHEMA = T.StructType(
    [
        T.StructField("group_key", T.IntegerType()),
        T.StructField("q_sum", T.LongType()),
        T.StructField("q_min", T.LongType()),
        T.StructField("q_max", T.LongType()),
    ]
)


def quantize_int8_stats(
    df: DataFrame, vec_col: str = "embedding", group_col: str = "label"
) -> DataFrame:
    """Per-vector int8 quantization via ``mapInArrow`` + per-group stats.

    The quantizer (scale = max |x| per vector, round-half-up to
    ``[-127, 127]``) is the storage-compression step of an index build
    — at 100 TB this is a pure map stage (no shuffle) writing 4× fewer
    bytes.  ``mapInArrow`` hands the worker raw ``pyarrow.RecordBatch``
    objects: no pandas materialization, numpy works zero-copy on the
    flattened list values.  Round-half-up (``floor(x+0.5)``) rather
    than numpy's banker's rounding so the DuckDB oracle agrees exactly.

    Returns one row per input vector ``(group_key, q_sum, q_min,
    q_max)`` aggregated by the caller; this function keeps the map
    stage separate so the shuffle input is 4 small ints per vector.
    """
    import pyarrow as pa

    def batches(it):
        import numpy as _np

        for batch in it:
            gk = batch.column(group_col).to_numpy(zero_copy_only=False)
            vecs = batch.column(vec_col)
            flat = vecs.values.to_numpy(zero_copy_only=False).astype(_np.float64)
            offsets = vecs.offsets.to_numpy(zero_copy_only=False)
            sums, mins, maxs = [], [], []
            for i in range(len(vecs)):
                x = flat[offsets[i] : offsets[i + 1]]
                m = _np.abs(x).max()
                if m == 0.0:  # all-zero vector: quantizes to zeros, not NaN
                    m = 1.0
                q = _np.floor(x * 127.0 / m + 0.5).astype(_np.int64)
                sums.append(int(q.sum()))
                mins.append(int(q.min()))
                maxs.append(int(q.max()))
            yield pa.record_batch(
                [
                    pa.array(gk, type=pa.int32()),
                    pa.array(sums, type=pa.int64()),
                    pa.array(mins, type=pa.int64()),
                    pa.array(maxs, type=pa.int64()),
                ],
                names=["group_key", "q_sum", "q_min", "q_max"],
            )

    per_vec = df.select(group_col, vec_col).mapInArrow(batches, QUANT_STATS_SCHEMA)
    return per_vec.groupBy(F.col("group_key").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("q_sum").alias("sum_q"),
        F.min("q_min").alias("min_q"),
        F.max("q_max").alias("max_q"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path
# ---------------------------------------------------------------------------


def pq_fit_codebooks(
    corpus: DataFrame,
    vec_col: str,
    m: int = 8,
    n_centroids: int = 256,
    dim: int = 64,
    seed: int = 42,
    fit_sample_rows: int = 8192,
    iters: int = 10,
    cache_key: str | None = None,
):
    """Train ``m`` per-subspace k-means codebooks (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI'11 — public method).

    Vectors are l2-normalized then split into ``m`` contiguous
    subvectors; each subspace gets its own codebook so a vector encodes
    to ``m`` uint8 ids — 64 float32 dims (256 B) become 8 B, a 32x
    compression that turns a RAM-bound 100 TB index into a fits-in-
    memory one.  The fit runs driver-side NumPy Lloyd's on a seeded
    sample capped at ``fit_sample_rows`` (~4 MB collected — the SAME
    bounded-sample discipline as kmeans_ivf_cells: codebook quality
    needs thousands of points, never the corpus).  ``n_centroids``
    clamps to sample_size // 4 so tiny fixtures don't over-fit empty
    centroids.  Returns a float64 ndarray (m, k_eff, dim // m).
    """
    import numpy as np

    assert dim % m == 0, "dim must divide into m subspaces"

    def fit():
        sub = dim // m
        n = corpus.count()
        fit_df = corpus.select(as_double_vec(F.col(vec_col)).alias("v"))
        if n > fit_sample_rows:
            fit_df = fit_df.sample(
                fraction=min(1.0, 1.05 * fit_sample_rows / n), seed=seed)
        X = np.array([r["v"] for r in fit_df.collect()], dtype=np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        X = X / norms
        k_eff = max(2, min(n_centroids, len(X) // 4))
        rng = np.random.RandomState(seed)
        books = np.empty((m, k_eff, sub))
        for j in range(m):
            S = X[:, j * sub : (j + 1) * sub]
            C = S[rng.choice(len(S), size=k_eff, replace=False)]
            for _ in range(iters):
                # assign: nearest centroid by squared L2
                d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)
                for c in range(k_eff):
                    pts = S[a == c]
                    if len(pts):
                        C[c] = pts.mean(axis=0)
            books[j] = C
        return books

    if cache_key is None:
        return fit()
    return session_memo(
        corpus.sparkSession,
        ("pq_books", cache_key, m, n_centroids, dim, seed, fit_sample_rows,
         iters), fit)


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, codebooks, dim: int = 64
) -> DataFrame:
    """Encode every corpus vector to its ``m`` nearest-centroid ids —
    a pure map stage (mapInPandas, codebooks ride the closure at
    ~m*k*sub*8 B), no shuffle: exactly the index-build write pass that
    runs once per corpus snapshot at scale.  Vectors are l2-normalized
    before encoding so ADC inner products approximate cosine."""
    import numpy as np
    import pandas as pd

    m, k_eff, sub = codebooks.shape
    books = codebooks  # closure broadcast (tiny)

    def encode(batches):
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if len(V) == 0:
                continue
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            V = V / norms
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * sub : (j + 1) * sub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"pq_id": pdf[id_col].values, "codes": list(codes.tolist())}
            )

    out = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias(vec_col))
    return out.mapInPandas(encode, "pq_id bigint, codes array<int>").withColumnRenamed(
        "pq_id", id_col
    )


def topk_neighbors_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 8,
    n_centroids: int = 256,
    dim: int = 64,
    seed: int = 42,
    rerank_oversample: int = 5,
    cache_key: str | None = None,
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC) with exact
    re-ranking.

    Each query builds an (m x k_eff) table of sub-inner-products with
    the codebooks; a corpus vector's approximate cosine is then m table
    lookups summed — the scan never touches floats, only uint8 codes.
    Distribution: the coded corpus is the big side (never shuffled for
    scoring); per-partition NumPy emits each query's LOCAL candidates,
    and a ranking window keeps the top ``k * rerank_oversample`` — the
    same partial-top-k-then-merge shape as TakeOrderedAndProject.  The
    surviving candidate set (k*oversample rows per query) is then
    re-scored with EXACT cosine against the full-precision vectors —
    the standard PQ deployment (compressed scan finds candidates,
    floats touched only for ~50 rows/query).  Raw-ADC recall@10 is
    ~0.55 at 32x compression; with 5x oversample re-rank it is pinned
    >= 0.9 by tests/test_ann_recall.py.  Approximate by construction:
    rows-only territory.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    books = pq_fit_codebooks(
        corpus, vec_col, m=m, n_centroids=n_centroids, dim=dim, seed=seed,
        cache_key=cache_key,
    )
    m_eff, k_eff, sub = books.shape
    q_rows = queries.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("v")
    ).collect()
    Q = np.array([r["v"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    Q = Q / qn
    q_ids = np.array([r[id_col] for r in q_rows])
    # ADC tables: T[q][j][c] = <q_j, codebook[j][c]>
    T = np.einsum("qjs,jcs->qjc", Q.reshape(len(Q), m_eff, sub), books)

    coded = pq_encode(corpus, id_col, vec_col, books, dim=dim)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (nb, m)
            ids = pdf[id_col].values
            # scores (nq, nb): sum_j T[q, j, codes[:, j]]
            scores = np.zeros((len(q_ids), len(codes)))
            for j in range(m_eff):
                scores += T[:, j, codes[:, j]]
            top = min(k * rerank_oversample + 1, len(codes))  # +1: self dropped later
            part = np.argpartition(-scores, top - 1, axis=1)[:, :top]
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                for ci in part[qi]:
                    out_q.append(int(q_ids[qi]))
                    out_n.append(int(ids[ci]))
                    out_s.append(float(scores[qi, ci]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "approx_score": out_s}
            )

    local = coded.mapInPandas(
        scan, "query_id bigint, neighbor_id bigint, approx_score double"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.col("neighbor_id")
    )
    cands = (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k * rerank_oversample)
        .select("query_id", "neighbor_id")
    )
    # Exact re-rank: floats touched only for the candidate rows.
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("__qv"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(F.col(vec_col)).alias("__cv"),
    )
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", F.round(F.expr(cosine_sql("__qv", "__cv", dim)), 6))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def topk_neighbors_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 6,
    m: int = 8,
    n_centroids: int = 256,
    dim: int = 64,
    seed: int = 42,
    rerank_oversample: int = 5,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-PQ: coarse k-means cells restrict WHICH codes are scanned,
    PQ codes make the scan itself table lookups — the standard
    billion-scale composition (FAISS IVFPQ; Jegou et al. TPAMI'11).

    Index build = two map-ish passes over the corpus (cell assignment +
    PQ encode), both shuffle-free given the trained quantizers (bounded
    sample fits).  Query path: rank the broadcast centroid table, probe
    ``n_probe`` cells, equi-join the (query, cell) list against the
    coded corpus on the cell id — the scan touches ``n_probe/n_cells``
    of the codes, and floats only for the re-ranked candidates.
    Scoring is vectorized per Arrow batch: ADC table lookups grouped by
    query within the batch.  Approximate by construction (rows-only);
    recall floor pinned in tests/test_ann_recall.py.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    assigned, centers = kmeans_ivf_cells(
        corpus, id_col, vec_col, n_cells, seed=seed, dim=dim, cache_key=cache_key
    )
    books = pq_fit_codebooks(
        corpus, vec_col, m=m, n_centroids=n_centroids, dim=dim, seed=seed,
        cache_key=cache_key,
    )
    m_eff, k_eff, sub = books.shape
    coded = pq_encode(corpus, id_col, vec_col, books, dim=dim).join(
        assigned.select(F.col(id_col), "__cell"), id_col
    )

    q_rows = queries.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("v")
    ).collect()
    Q = np.array([r["v"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    Q = Q / qn
    q_ids = [r[id_col] for r in q_rows]
    T = np.einsum("qjs,jcs->qjc", Q.reshape(len(Q), m_eff, sub), books)
    T_by_qid = {int(q_ids[i]): T[i] for i in range(len(q_ids))}

    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("__qdv"),
    )
    scored_cells = qdf.crossJoin(F.broadcast(centers)).withColumn(
        "__cdist", F.expr(cosine_sql("__qdv", "center", dim))
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("__cdist"), F.col("cell_id"))
    probed = (
        scored_cells.withColumn("__r", F.row_number().over(wc))
        .where(F.col("__r") <= n_probe)
        .select("query_id", F.col("cell_id").alias("__cell"))
    )

    cand = coded.join(F.broadcast(probed), "__cell").select(
        "query_id", F.col(id_col).alias("neighbor_id"), "codes"
    )

    def adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            scores = np.empty(len(codes))
            # batch rows group by query: look up each query's ADC table
            for qid, idx in pdf.groupby("query_id").indices.items():
                Tq = T_by_qid[int(qid)]
                s = np.zeros(len(idx))
                for j in range(m_eff):
                    s += Tq[j, codes[idx, j]]
                scores[idx] = s
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].values,
                    "neighbor_id": pdf["neighbor_id"].values,
                    "approx_score": scores,
                }
            )

    local = cand.mapInPandas(
        adc, "query_id bigint, neighbor_id bigint, approx_score double"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.col("neighbor_id")
    )
    cands = (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k * rerank_oversample)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("__qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("__cv")
    )
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", F.round(F.expr(cosine_sql("__qv", "__cv", dim)), 6))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
