"""``suite_heavy``: a fixed, named set of registry queries (no streaming).

The untimed warm-up runs every query once, concurrently, and collects
its result.  The check compares an order-insensitive hash of each
result with the query's DuckDB oracle.  ``near_dup_incremental`` is the
exception: its brute-force oracle SQL takes ~13 s at this size, so its
definition (exact character 5-shingle Jaccard over the same pair space)
is recomputed in Python instead.  Timed passes run the queries one after
another, each after ``spark.catalog.clearCache()``, materialized through
the ``noop`` sink, and repeat until ``--seconds`` have passed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import time
from concurrent.futures import ThreadPoolExecutor

from . import datagen
from .common import Outcome, RssSampler, RunContext, median, pct, tree_cpu_s

#: Iterative graph, MinHash near-dup search, a TPC-H join and an Arrow
#: pandas UDF -- all oracle-backed, each ~1 s or more warm on 4 cores.
#: Only sentiment_pandas_udf runs Python workers, so the concurrent
#: warm-up never overlaps two Python-evaluating jobs (concurrent streaming
#: drains over the Python source intermittently failed task
#: deserialization; see streams.StreamBench.warm).
QUERIES = (
    "customer_supplier_pagerank",
    "near_dup_incremental",
    "waiting_suppliers_q21",
    "sentiment_pandas_udf",
)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_hash(cols, rows) -> str:
    """Order-insensitive hash over column-name-sorted, normalized rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in norm:
        h.update(line.encode())
    return f"{len(norm)}:{h.hexdigest()[:16]}"


def near_dup_incremental_expected(data_dir: str) -> dict[tuple, float]:
    """``near_dup_incremental``'s oracle, evaluated in Python:
    ``{(new_id, dup_of): jaccard}`` for every new doc (id % 5 == 0)
    against every other doc, new docs only against smaller new ids."""
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{data_dir}/documents.parquet",
                         columns=["doc_id", "text"]).to_pylist()
    sh = {d["doc_id"]: {d["text"][i:i + 5] for i in range(len(d["text"]) - 4)}
          for d in docs}
    out = {}
    for a, sa in sh.items():
        if a % 5:
            continue
        for b, sb in sh.items():
            if b == a or (b % 5 == 0 and b > a):
                continue
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            if union and inter / union >= 0.8:
                out[(a, b)] = inter / union
    return out


def near_dup_incremental_problem(rows, expected: dict[tuple, float]) -> str | None:
    got = {(r["new_id"], r["dup_of"]): r["jaccard"] for r in rows}
    if len(got) != len(rows) or got.keys() != expected.keys():
        return (f"near_dup_incremental: {len(rows)} pairs, oracle "
                f"{len(expected)} ({len(got.keys() ^ expected.keys())} differ)")
    worst = max((abs(got[k] - v) for k, v in expected.items()), default=0.0)
    if worst > 1e-4:  # the query rounds jaccard to 4 decimals
        return f"near_dup_incremental: jaccard off by {worst:.2g}"
    return None


def oracle_hashes(data_dir: str, tables, queries) -> dict[str, str]:
    import duckdb

    from kafka_bigdata_jobs_spark import suite

    reg = suite.registry()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for q in queries:
            res = con.execute(reg[q].oracle)
            out[q] = result_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def run(ctx: RunContext, spark, setup_t0: float) -> Outcome:
    from kafka_bigdata_jobs_spark import suite

    reg = suite.registry()
    data_dir = ctx.path("tables")
    phases = ctx.details.setdefault("phases", {})
    phases["session_s"] = time.perf_counter() - setup_t0
    counts = datagen.generate(data_dir, ctx.seed, ctx.scale)
    phases["datagen_s"] = time.perf_counter() - setup_t0
    n_rows = sum(counts.values())
    errors: list[str] = []
    attempted = failed = 0

    # Warm-up (untimed, concurrent so the JVM's one-off costs overlap):
    # collect every result for the check.
    def warm(q):
        df = reg[q].fn(spark, data_dir)
        return df.columns, df.collect()

    with ThreadPoolExecutor(len(QUERIES)) as pool:
        futures = {q: pool.submit(warm, q) for q in QUERIES}
    results: dict[str, tuple] = {}
    for q, f in futures.items():
        try:
            results[q] = f.result()
        except Exception as exc:  # noqa: BLE001 - counted, reported
            errors.append(f"{q} (warm-up): {exc!r}")
    setup_s = time.perf_counter() - setup_t0

    walls: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes: list[dict] = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        k = 0
        while True:
            cpu0 = tree_cpu_s()
            pass_wall = 0.0
            for q in QUERIES:
                tag = f"timed{k}_{q}"
                attempted += 1
                spark.catalog.clearCache()
                if ctx.trace:
                    spark.sparkContext.setJobDescription(tag)
                q0 = time.perf_counter()
                try:
                    reg[q].fn(spark, data_dir).write.format("noop").mode(
                        "overwrite").save()
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    failed += 1
                    errors.append(f"{q}: {exc!r}")
                    continue
                finally:
                    if ctx.trace:
                        spark.sparkContext.setJobDescription(None)
                w = time.perf_counter() - q0
                walls[q].append(w)
                pass_wall += w
                ctx.details.setdefault("timed_tags", {})[tag] = q
            passes.append({"wall_s": pass_wall, "cpu_s": tree_cpu_s() - cpu0})
            k += 1
            if time.perf_counter() - t0 >= ctx.seconds:
                break

    o0 = time.perf_counter()
    hashed = [q for q in QUERIES if q != "near_dup_incremental"]
    expected = oracle_hashes(data_dir, counts, hashed)
    for q in QUERIES:
        if q not in results:
            failed += 1
            continue
        cols, rows = results[q]
        if q == "near_dup_incremental":
            problem = near_dup_incremental_problem(
                rows, near_dup_incremental_expected(data_dir))
        else:
            got = result_hash(cols, [tuple(r) for r in rows])
            problem = (None if got == expected[q]
                       else f"{q}: result {got} != oracle {expected[q]}")
        if problem:
            failed += 1
            errors.append(problem)
    phases["check_s"] = time.perf_counter() - o0
    wall = median(p["wall_s"] for p in passes)
    # Latency is that of the query set: single queries differ tenfold, so
    # percentiles over them would track whichever query ranks in the
    # middle.  Per-query times are the suite.* layer metrics.
    pass_ms = [p["wall_s"] * 1e3 for p in passes]
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": n_rows * len(QUERIES) / wall,
        "latency_ms_p50": pct(pass_ms, 50),
        "latency_ms_p80": pct(pass_ms, 80),
        "cpu_s": median(p["cpu_s"] for p in passes),
        "peak_rss_mb": rss.peak_mb,
    }
    layers = {f"suite.{q}_ms": median(walls[q]) * 1e3 for q in QUERIES}
    ctx.details.update(passes=len(passes), latency_samples=len(pass_ms),
                       input_rows=n_rows, timed_units=len(passes))
    return Outcome(attempted, failed, e2e, layers, errors)
