"""Scaling probe: time the suite's heavyweight funnels at 1×/3×/10×
the sf0.1 data volume and record how close each plan is to linear.

Companion to tools/scaleup.py (which materializes the replicated
datasets).  The task brief's standing question — "would this plan
survive a 100× scale-up?" — is answered per-plan here with measured
wall-clock exponents instead of prose: a query whose time grows like
t(N) ∝ N^e has e ≈ 1 when the plan is shuffle-linear, e ≈ 2 when an
all-pairs surface sneaks in.  Results land in SCALING.json; SCALE.md
narrates them.

Method notes:

- Timing discipline is bench.py's, verbatim: ``clearCache`` after
  EVERY run so each query is timed independently (first-touch
  materialization of shared projections lands on every query equally,
  not on whichever ran first — an earlier probe variant read e=2.3
  for boilerplate_segments from exactly that attribution bug), and
  min-of-attempts with extra spaced retries above a threshold, because
  this host has documented multi-second stall windows (BASELINE.md:
  identical plans swing 1 s ↔ 50 s; two back-to-back attempts can both
  land inside one window).
- Probe queries are the suite's heaviest + one representative of every
  scale-critical shape (LSH funnels, connected components, iterative
  pagerank, blocked Gram products, ANN, bigram shuffle-joins, TPC-H
  joins, session windows, sampled ML fit).
- Caveat on exponents measured at this size: fixed per-query overheads
  (plan compile, task launch, small-dim scans) are a large share of
  sub-second queries, DEFLATING e below the plan's asymptotic truth.
  A measured e well below 1 usually means "overhead-dominated", not
  "sublinear algorithm" — except where the plan genuinely is sublinear
  (ml_quality_filter fits on a bounded sample; near_dup_incremental's
  cost is ∝ batch, not corpus).  An e near 2 is meaningful at ANY
  size: it means a pair surface grew quadratically.

Usage: python tools/scaleprobe.py [--attempts 2] [--out SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_bigdata_jobs_spark import suite  # noqa: E402
from kafka_bigdata_jobs_spark.session import forget, get_spark  # noqa: E402

SCALES = {
    "x1": "/root/testdata/sf0.1",
    "x3": ".scaledata/x3",
    "x10": ".scaledata/x10",
}

#: name -> why it is in the probe (shape being scale-tested)
PROBE = {
    "near_dup_pairs_minhash": "LSH banding funnel (bucketed equi-join)",
    "near_dup_pairs_word_bigram": "shingle LSH funnel + exact Jaccard verify",
    "simhash_near_dups": "hamming-band funnel",
    "near_dup_clusters": "connected components over near-dup edges",
    "near_dup_incremental": "batch-vs-index dedup (cost ∝ batch)",
    "dedup_exact_summary": "exact hash-groupBy dedup",
    "boilerplate_segments": "passage-grain explode + groupBy",
    "similarity_topk_bruteforce": "broadcast-queries exact top-k scan",
    "similarity_topk_ivf_kmeans": "IVF cell-probed ANN (fit + scan)",
    "embedding_close_pairs": "blocked all-pairs cosine at threshold",
    "customer_supplier_pagerank": "iterative join+agg (5 power steps)",
    "correlated_user_spend_pairs": "block×block integer Gram product",
    "bigram_coverage_quality": "corpus-count shuffle + probe join",
    "tfidf_top_terms": "tokenized projection + idf join",
    "winnow_fingerprint_stats": "rolling-hash winnowing",
    "shipping_priority_q3": "3-way TPC-H join",
    "waiting_suppliers_q21": "multi-join + conditional agg",
    "big_orders_q18": "group-filter semi-join",
    "user_sessions": "sessionization window over user timeline",
    "weekly_retention_cohorts": "cohort explode + user shuffle",
    "ml_quality_filter": "LR fit on bounded sample + JVM scoring",
    "dup_span_profile": "8-gram posexplode + shingle shuffle + island merge",
    "substring_dedup_retention": "min-id owner join + interval-union window",
    "decontamination_cut_plan": "broadcast bench-gram probe + marked-only window",
    "supplier_graph_triangles": "degree-oriented wedge gen + closure join",
    "bfs_reachability_profile": "checkpointed frontier expansion (4 hops)",
    "cdc_snapshot_apply": "changelog winner agg + anti-join apply",
    "incremental_join_revenue_signed": "signed delta-join IVM fold",
    "quality_filter_auc": "per-distinct-score agg + bounded window",
    "dsir_selection_report": "doc x bucket shuffle + broadcast ratio join",
    "bm25_top_docs": "probe-term prefiltered explode + broadcast df",
    "hybrid_rrf_search": "BM25 + cosine top-k fusion (broadcast algebra)",
    "heavy_hitters_census": "mergeable frequent-items sketch per key",
    "daily_spend_gapfilled": "calendar-spine explode + per-key fill windows",
    "weighted_sample_report": "A-ES clocks + per-group top-k window",
    "supplier_affinity_ppr": "seeded teleport power iteration (5 rounds)",
    "quality_quantile_calibration": "per-source rank windows on textproj",
    "daily_count_spike_flags": "grain agg + trailing integer-variance window",
    "doc_containment_pairs": "distinct segment relation + segment equi-join",
    "char_entropy_report": "26 counting expressions, zero-shuffle feature",
}


#: Auto-extension threshold (r3 verdict item 4): every registry query
#: whose committed BENCH_local.json sf0.1 cost is at least this many
#: seconds joins the probe, beyond the hand-picked PROBE shapes — the
#: probe caught a real superlinear plan in r3, so coverage is now
#: derived, not curated.  tests/test_scaling_exponents.py pins both the
#: coverage rule and an exponent ceiling.
AUTO_THRESHOLD_SEC = 0.5


def auto_probe_names(reg) -> list[str]:
    names = [n for n in PROBE if n in reg]
    bench_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_local.json")
    try:
        with open(bench_path, encoding="utf-8") as fh:
            bench = json.load(fh)
    except (OSError, ValueError):
        return names
    if bench.get("sf") != 0.1:
        return names  # threshold is calibrated on the sf0.1 artifact
    for n, sec in sorted(bench.get("queries", {}).items()):
        if sec >= AUTO_THRESHOLD_SEC and n in reg and n not in names:
            names.append(n)
    return names


def probe_cold_builds(spark, attempts: int, out_path: str) -> None:
    """x1/x3/x10 exponents for the shared pair-relation COLD BUILDS —
    the two numbers bench.py names as ``cold_builds`` (r5 verdict item
    6: at 100 TB the build IS the job, so it needs a measured exponent,
    not just an sf0.1 cost).  Protocol mirrors bench.py's cold leg:
    memo + cache cleared per attempt, full materialization via noop
    write, min over attempts with one untimed warm-up discard per
    (family, scale)."""
    FAMILIES = {
        "near_dup_funnel": (
            suite._shared_near_dup_pairs, "near_dup_pairs",
            "128-hash signature agg + banded LSH self-join; "
            "shingle/signature passes are linear, the banded join is "
            "candidate-bound",
        ),
        "embedding_pairs": (
            suite._shared_embedding_pairs, "embedding_pairs",
            "blocked matmul candidate gen at these sizes (auto path "
            "below MAX_SIDE_MATRIX_BYTES): linear scan x per-worker matrix",
        ),
    }
    results: dict[str, dict] = {}
    for fam, (get, family, why) in FAMILIES.items():
        row: dict = {"rationale": why}
        for scale, d in SCALES.items():
            def once():
                spark.catalog.clearCache()
                forget(spark, family)
                t0 = time.monotonic()
                get(spark, d).write.mode("overwrite").format("noop").save()
                return time.monotonic() - t0
            once()  # warm-up discard (codegen cache, parquet footers)
            best = min(once() for _ in range(max(2, attempts)))
            row[scale] = round(best, 3)
            print(f"{scale:4s} cold {fam:20s} {best:8.2f}s", flush=True)
        row["exp_x3_x10"] = round(
            math.log(max(row["x10"], 1e-3) / max(row["x3"], 1e-3))
            / math.log(10 / 3), 2)
        row["exp_x1_x10"] = round(
            math.log(max(row["x10"], 1e-3) / max(row["x1"], 1e-3))
            / math.log(10), 2)
        results[fam] = row
    try:
        with open(out_path, encoding="utf-8") as fh:
            out = json.load(fh)
    except (OSError, ValueError):
        out = {}
    out.setdefault("cold_builds", {}).update(results)
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path} cold_builds section ({len(results)} families)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--attempts", type=int, default=2)
    ap.add_argument("--out", default="SCALING.json")
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--cold-builds", action="store_true",
                    help="probe the shared pair-relation cold builds "
                    "instead of registry queries")
    args = ap.parse_args()

    for scale, d in SCALES.items():
        if not os.path.exists(d):
            raise SystemExit(
                f"{scale} dataset missing at {d} — run tools/scaleup.py first"
            )

    reg = suite.registry()
    names = args.queries or auto_probe_names(reg)
    spark = get_spark("kbj-spark-scaleprobe")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cold_builds:
        probe_cold_builds(spark, args.attempts, args.out)
        return

    RETRY_OVER = 2.5  # seconds — same stall-escape policy as bench.py
    MAX_ATTEMPTS = max(args.attempts + 1, 3)

    # Shared-pair-relation protocol, mirroring bench.py (r5): one query
    # per family CARRIES the cold-build exponent (memo cleared each
    # attempt so the deterministic eager-materialization path inside
    # near_dup_pairs / the blocked scan runs — a memo HIT after
    # clearCache would instead lazily rematerialize under the
    # 4-branch race, which lands 4.7 s or 20 s nondeterministically;
    # measured on near_dup_retention@x3, two probe runs 20.1/21.4 s vs
    # 4.7 s steady standalone).  The remaining consumers are probed
    # WARM (relation materialized untimed first) so their exponent
    # measures THEIR plan — components, ranking windows — not a racy
    # rebuild of the upstream relation.
    COLD_CARRIERS = {
        "near_dup_pairs_minhash": "near_dup_pairs",
        "embedding_close_pairs": "embedding_pairs",
    }
    WARM_CONSUMERS = {
        "near_dup_clusters": suite._shared_near_dup_pairs,
        "near_dup_retention": suite._shared_near_dup_pairs,
        "embedding_dedup_retention": suite._shared_embedding_pairs,
    }

    def run_once(name, fn, d):
        spark.catalog.clearCache()  # time queries independently
        family = COLD_CARRIERS.get(name)
        if family is not None:
            forget(spark, family)
        warm = WARM_CONSUMERS.get(name)
        if warm is not None:
            warm(spark, d).count()  # untimed
        t0 = time.monotonic()
        n = fn(spark, d).count()
        return time.monotonic() - t0, n

    def probe(name, fn, d, attempts):
        # One untimed warm-up execution per (query, scale) FIRST: in a
        # full-suite probe the 2000-entry codegen cache thrashes, so a
        # query's first execution at a scale systematically re-pays
        # compile (measured: 4.15 s first / 1.1 s steady for
        # quality_quantile_calibration@x3 — the r5 full refresh briefly
        # pushed three overhead-dominated rows over the exponent
        # ceiling on exactly this contamination).  Exponents should
        # measure the PLAN's data scaling, not compile-cache luck.
        run_once(name, fn, d)
        best, rows = math.inf, -1
        for _ in range(attempts):
            dt, rows = run_once(name, fn, d)
            best = min(best, dt)
        n = attempts
        while best > RETRY_OVER and n < MAX_ATTEMPTS:
            dt, rows = run_once(name, fn, d)
            best = min(best, dt)
            n += 1
        return best, rows

    results: dict[str, dict] = {name: {} for name in names}
    for scale, d in SCALES.items():
        spark.catalog.clearCache()
        reg["pricing_summary"].fn(spark, d).count()  # JIT/footer warm-up
        for name in names:
            fn = reg[name].fn
            best, rows = probe(name, fn, d, args.attempts)
            results[name][scale] = round(best, 3)
            results[name][f"rows_{scale}"] = rows
            print(f"{scale:4s} {name:34s} {best:8.2f}s rows={rows}",
                  flush=True)
    for name, row in results.items():
        # exponent from the x3→x10 leg (x1 carries the most fixed
        # overhead; the upper leg is closest to asymptotic behavior)
        row["exp_x3_x10"] = round(
            math.log(max(row["x10"], 1e-3) / max(row["x3"], 1e-3))
            / math.log(10 / 3),
            2,
        )
        row["exp_x1_x10"] = round(
            math.log(max(row["x10"], 1e-3) / max(row["x1"], 1e-3))
            / math.log(10),
            2,
        )

    # MERGE into an existing artifact rather than replacing it: query
    # rows update in place (a --queries subset run refreshes only those)
    # and sibling sections written by other tools — ann_recall from
    # tools/ann_recall_scale.py — survive (r5: a full-probe rewrite
    # used to silently drop them).
    try:
        with open(args.out, encoding="utf-8") as fh:
            out = json.load(fh)
    except (OSError, ValueError):
        out = {}
    out.update(
        scales={k: os.path.abspath(v) for k, v in SCALES.items()},
        base="sf0.1 replicated via tools/scaleup.py",
        attempts=args.attempts,
        auto_threshold_sec=AUTO_THRESHOLD_SEC,
        probe_rationale=PROBE,
    )
    out.setdefault("queries", {}).update(results)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {args.out}: {len(results)} queries x {len(SCALES)} scales"
          f" (file now carries {len(out['queries'])} query rows)")


if __name__ == "__main__":
    main()
