"""Relational core: aggregation idioms, top-k, pivot, set ops.

Mirrors SURVEY.md §2.3/2.5/2.7/2.8.  Everything here is a thin,
deliberately Catalyst-native composition — partial aggregation,
TakeOrderedAndProject for sort+limit, and whole-stage codegen all come
for free because these stay inside pyspark.sql.functions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input is
    under-partitioned (e.g. one small parquet file → 1 scan partition,
    which would serialize every downstream per-row computation onto one
    core).  Heavy per-row operators (shingling, signatures, pair joins)
    call this first; already-wide inputs pass through untouched.

    Width is judged from ``inputFiles()`` (a driver-side file listing):
    ``df.rdd.getNumPartitions()`` would be exact but triggers physical
    planning + whole-stage codegen compilation of the entire plan — a
    multi-second driver cost for the wide generated classes these
    operators build, paid once per partition probe.  Many files ≥
    target ⇒ at least that many scan partitions; FEW files are sized
    (r9): Spark splits large splittable files by
    ``min(maxPartitionBytes, max(openCostInBytes, total/minPartitionNum))``
    (FilePartition.maxSplitBytes), so a single multi-GB parquet file
    already reads as ≥ defaultParallelism scan partitions and the old
    "few files ⇒ repartition" rule paid a FULL-CORPUS round-robin
    shuffle for nothing — measured as the dominant share of the hier
    pair path's scan_cache stage at the x30/x100 probes (the shuffle
    grows superlinearly with spill while the scan itself is linear).
    Compressed-suffix files (.gz/.bz2/...) are unsplittable: they count
    one partition each, keeping the estimate conservative.  The only
    remaining error mode is unchanged — a redundant repartition of a
    small input, where the extra shuffle is cheap by construction."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if len(files) >= target:
            return df
        if files and _estimated_scan_partitions(spark, files) >= target:
            return df
    except Exception:
        if df.rdd.getNumPartitions() >= target:
            return df
    return df.repartition(target)


#: Suffixes Spark treats as unsplittable (stream-compressed whole-file
#: codecs): one scan partition each regardless of size.
_UNSPLITTABLE_SUFFIXES = (".gz", ".bz2", ".lz4", ".snappy", ".zst",
                          ".deflate", ".xz", ".zip")


def _estimated_scan_partitions(spark, files: list[str]) -> int:
    """Lower-bound estimate of the scan partition count Spark's
    FilePartition packing will produce for ``files``, mirroring
    ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (totalSize + files·openCost) / minPartitionNum))``.  File sizes
    come from the Hadoop FileSystem (works for any scheme the session
    can read; a local ``file:`` URI resolves through RawLocalFileSystem
    with no extra RPC).  Raises on any I/O oddity — the caller treats
    that as "unknown width" and keeps the conservative repartition."""
    import math
    import os
    from urllib.parse import urlparse

    from ..session import _conf_int

    def _bytes(v: str) -> int:
        # Spark byte-conf strings: "134217728b", "128m", "1g", plain int
        units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                 "t": 1 << 40, "p": 1 << 50}
        s = v.strip().lower()
        num = s.rstrip("kmgtpb")
        mult = 1
        for ch in s[len(num):]:
            if ch in units and ch != "b":
                mult = units[ch]
        return int(float(num or "0") * mult)

    conf = spark.conf
    max_pb = _bytes(conf.get("spark.sql.files.maxPartitionBytes",
                             str(128 << 20)))
    open_cost = _bytes(conf.get("spark.sql.files.openCostInBytes",
                                str(4 << 20)))
    # Unset: Spark falls back to the default parallelism.
    min_parts = _conf_int(conf, "spark.sql.files.minPartitionNum",
                          spark.sparkContext.defaultParallelism)
    sizes: list[int] = []
    jvm_fs = None
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme in ("file", ""):
            sizes.append(os.path.getsize(parsed.path or f))
        else:
            jvm = spark.sparkContext._jvm
            path = jvm.org.apache.hadoop.fs.Path(f)
            if jvm_fs is None:
                jvm_fs = path.getFileSystem(
                    spark.sparkContext._jsc.hadoopConfiguration())
            sizes.append(jvm_fs.getFileStatus(path).getLen())
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_pb, max(open_cost, total // max(1, min_parts)))
    n = 0
    for f, size in zip(files, sizes):
        if f.lower().endswith(_UNSPLITTABLE_SUFFIXES):
            n += 1
        else:
            n += max(1, math.ceil(size / max(1, max_split)))
    return n


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact integer representation of d-decimal double data.

    The fixture's money/metric columns are 2-decimal values stored as
    doubles; summing them as doubles is order-dependent, which breaks
    cross-engine value-hash parity at rounding boundaries (e.g. an avg
    landing exactly on .025).  ``round(x*100) :: bigint`` recovers the
    exact integer both in Spark and in the DuckDB oracle, so sums/avgs
    built on it are bit-identical across engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10 ** scale)).cast("long")


def exact_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent sum of d-decimal double data (via cents).

    Oracle-SQL twin: ``SUM(CAST(ROUND(x*100) AS BIGINT)) / 100.0``.
    """
    return F.sum(cents(col, scale)) / float(10 ** scale)


def exact_avg(col: Column | str, decimals: int | None = None, scale: int = 2) -> Column:
    """Order-independent avg of d-decimal double data, UNROUNDED.

    Oracle-SQL twin:
    ``SUM(CAST(ROUND(x*100) AS BIGINT)) / (COUNT(*) * 100.0)``.
    Both engines divide identical exact integers, so the quotient
    double is bit-identical — and it must be emitted raw: Spark's
    ``round()`` rounds the double's shortest DECIMAL STRING
    (BigDecimal.decimal) while DuckDB rounds the BINARY value, so a
    quotient landing exactly on the half grid (e.g. 3361052/800 =
    4201.315) rounds to 4201.32 in Spark and 4201.31 in DuckDB.
    ``decimals`` is accepted for API compatibility and ignored.
    """
    _ = decimals
    return F.sum(cents(col, scale)) / (F.count(F.lit(1)) * float(10 ** scale))


def count_if(cond: Column) -> Column:
    """Conditional-count idiom ``sum(when(cond,1).otherwise(0))``.

    Reference uses this shape everywhere, e.g. verified-user counts
    (reference ``batch/job2_historico.py:174,198,227-228``).
    """
    return F.sum(F.when(cond, 1).otherwise(0))


def pct(numer: Column, denom: Column, decimals: int | None = None) -> Column:
    """``100*numer/denom`` post-agg metric (reference
    ``batch/job1_locations.py:117-118``) — unrounded for the same
    cross-engine string-vs-binary rounding hazard as :func:`exact_avg`.
    """
    _ = decimals
    return numer * 100.0 / denom


def having(df_agg: DataFrame, cond: Column) -> DataFrame:
    """HAVING-style post-aggregation filter
    (reference ``streaming/job1_bots.py:158``)."""
    return df_agg.where(cond)


def top_k(
    df: DataFrame,
    order_by: Sequence[Column],
    k: int,
    tie_breakers: Sequence[Column] = (),
) -> DataFrame:
    """Global top-k: ``orderBy(desc).limit(k)``.

    Spark plans this as TakeOrderedAndProject — per-partition heaps, no
    global sort shuffle — so it holds at 100 TB.  ``tie_breakers`` make
    the result deterministic (the reference's bare ``orderBy(desc
    ("count")).limit(10)`` at ``batch/job5_menciones.py:90-91`` is
    tie-unstable; oracle checking requires total order).
    """
    return df.orderBy(*order_by, *tie_breakers).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group top-k via ranking window function.

    The reference emulates this with a driver-side Python loop over
    ``collect()`` output (``streaming/job2.py:215-227``) — the one place
    SURVEY.md §2.6 calls for a deliberate upgrade.  A window
    ``row_number`` keeps the computation distributed: one shuffle on the
    partition keys, streaming rank within each partition.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def pivot_counts(
    df: DataFrame,
    group_by: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    fill: int = 0,
) -> DataFrame:
    """Crosstab: ``groupBy(keys).pivot(col, values).count()`` + fillna.

    Reference shape: ``batch/job1_locations.py:111-124`` /
    ``batch/job5_menciones.py:115-129``.  Explicit ``pivot_values`` are
    mandatory here: without them Spark runs an extra distinct-scan job
    to discover the values and the output schema becomes data-dependent
    (SURVEY.md §4 hazard b).
    """
    return (
        df.groupBy(*group_by)
        .pivot(pivot_col, list(pivot_values))
        .count()
        .na.fill(fill)
    )


def union_all(*dfs: DataFrame) -> DataFrame:
    """Positional bag union (reference ``batch/job1_locations.py:65``)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.union(d)
    return out


def union_by_name(*dfs: DataFrame, allow_missing: bool = True) -> DataFrame:
    """By-name union tolerating missing columns — the reference chains
    four alert streams this way (``streaming/job1_bots.py:358-360``)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=allow_missing)
    return out


def tagged_union(
    dfs_with_tags: Sequence[tuple[DataFrame, str]],
    tag_col: str,
    common_cols: Sequence[str],
) -> DataFrame:
    """Union heterogeneous sources under a discriminator column.

    This is the reference's substitute for joins: bitcoin/ethereum CSVs
    each get ``lit(crypto_type)`` and are unioned, then grouped by the
    tag (``batch/job1_locations.py:38,53,65``).
    """
    parts = [
        df.select(*[F.col(c) for c in common_cols]).withColumn(tag_col, F.lit(tag))
        for df, tag in dfs_with_tags
    ]
    return union_all(*parts)


def two_phase_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, Column]],
    salt_buckets: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Salted two-phase aggregation for skewed grouping keys.

    Phase 1 groups by ``(keys..., salt)`` — the salt is a deterministic
    hash of ``salt_on`` (pass any high-cardinality column; without one,
    falls back to ``monotonically_increasing_id``, which is stable
    within a run but not across retries — prefer ``salt_on``) —
    spreading one hot key over ``salt_buckets`` reducers; phase 2
    re-aggregates the per-salt partials by ``keys`` alone.  Correct only for aggregates
    with a partial/merge decomposition, which the caller supplies:
    ``aggs[name] = (partial_expr, merge_expr)`` where ``merge_expr``
    references the phase-1 output column ``name``.

    Catalyst already does partial aggregation map-side, which handles
    most skew; explicit salting matters when a single key's PARTIAL
    results still overwhelm one reducer (billions of rows per key with
    high-cardinality distinct-ish state).  Plain ``sum``/``count``/
    ``min``/``max`` rarely need it — this operator exists for the
    pattern, verified equivalent to the direct groupBy in tests.
    """
    salt_col = (
        F.pmod(F.xxhash64(F.col(salt_on)), F.lit(salt_buckets))
        if salt_on
        else F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    phase1 = df.withColumn("__salt", salt_col).groupBy(*keys, "__salt").agg(
        *[partial.alias(name) for name, (partial, _merge) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[merge.alias(name) for name, (_partial, merge) in aggs.items()]
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, pk: Sequence[str], compare: Sequence[str]
) -> DataFrame:
    """Keyed table diff between two snapshots: one row per changed key
    with ``change_type`` in {added, removed, changed}.

    Full outer join on the primary key, null-safe (``<=>``) comparison
    over the tracked columns — the reconciliation primitive behind CDC
    audits and backfill verification.  Both sides hash-shuffle on the
    pk once; at warehouse scale pre-bucketed snapshots make this
    shuffle-free.
    """
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in [*pk, *compare]]
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in [*pk, *compare]]
    )
    cond = None
    for k in pk:
        c = F.col(f"__o_{k}") == F.col(f"__n_{k}")
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    old_missing = F.col(f"__o_{pk[0]}").isNull()
    new_missing = F.col(f"__n_{pk[0]}").isNull()
    same = None
    for c in compare:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(old_missing, F.lit("added"))
        .when(new_missing, F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__n_{k}"), F.col(f"__o_{k}")).alias(k)
                for k in pk
            ],
            "change_type",
        )
    )
