"""CI pin on measured scaling exponents (r3 verdict item 4).

SCALING.json records wall-clock at 1×/3×/10× the sf0.1 volume per
probed query; the x3→x10 exponent is the repo's empirical answer to
"would this plan survive a 100× scale-up".  The r3 probe caught a real
superlinear plan (`correlated_user_spend_pairs`, e=1.38, fixed in r4 —
e=0.22 re-measured), so these guards make that catch automatic:

- every query whose committed sf0.1 bench cost is heavy (threshold
  with a drift margin) must HAVE a probe row, and
- no probe row may exceed the exponent ceiling without a named
  allowlist entry carrying a written justification (mirroring the
  collect/window allowlists in test_plan_quality.py).
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: e(x3→x10) above this fails without an allowlist entry.  1.1 ≈
#: shuffle-linear with log factors and measurement noise; a genuine
#: pair surface measures well above it (r3: 1.38).
EXP_CEILING = 1.1

#: Queries allowed above the ceiling, each with the reason the shape is
#: accepted.  Empty today: the one r5 candidate (embedding_close_pairs,
#: briefly measured e≈2.2) turned out to be probe contamination — under
#: the warm-up-discard protocol its wall exponent is 0.27 even though
#: its OUTPUT rows grow quadratically in the replicated fixture
#: (144→1423→16516, the documented cross-replica cosine tail): the
#: vectorized blocked scan absorbs the n² candidate work at probe
#: scale.  SCALE.md keeps the honest asymptotic note.
EXP_ALLOWLIST: dict[str, str] = {}

#: Coverage rule: bench cost at/above this must have a probe row.  The
#: probe's own enrollment threshold is 0.5 s (tools/scaleprobe.py
#: AUTO_THRESHOLD_SEC); the margin keeps host-noise drift in the bench
#: artifact from flapping this test between probe refreshes.
COVERAGE_THRESHOLD_SEC = 0.75


@pytest.fixture(scope="module")
def scaling():
    with open(os.path.join(REPO, "SCALING.json"), encoding="utf-8") as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def bench():
    """The committed sf0.1 bench artifact: one run of bench.py, every
    number measured by that run."""
    try:
        with open(os.path.join(REPO, "BENCH_local.json"),
                  encoding="utf-8") as fh:
            art = json.load(fh)
    except (OSError, ValueError):
        art = None
    # Loud, not silent: without the sf0.1 artifact the probe-enrollment
    # gate would have nothing to check and rot (the same failure mode
    # test_ann_recall_holds_floor_at_x10 guards against for the recall
    # section).
    assert art is not None and art.get("sf") == 0.1, (
        "BENCH_local.json is missing or not the sf0.1 artifact — run "
        "`make bench`")
    return art


def test_bench_numbers_come_from_one_run(bench):
    """Each timing in the artifact is the min of that run's own
    attempts, and the headline is their sum: no number is a minimum
    merged across runs."""
    attempts = bench["attempts"]
    assert set(attempts) == set(bench["queries"])
    for name, sec in bench["queries"].items():
        assert attempts[name] and sec == min(attempts[name]), name
    cold = bench["cold_build_attempts"]
    assert set(cold) == set(bench["cold_builds"])
    for fam, sec in bench["cold_builds"].items():
        assert cold[fam] and sec == min(cold[fam]), fam
    assert bench["value"] == round(sum(bench["queries"].values()), 3)
    assert bench["n_queries"] == len(bench["queries"])


def test_no_unexplained_superlinear_plan(scaling):
    bad = {}
    for name, row in scaling["queries"].items():
        e = row.get("exp_x3_x10")
        if e is None or name in EXP_ALLOWLIST:
            continue
        # Sub-second-at-x10 rows are overhead-dominated: a 0.2 s → 0.7 s
        # jitter swing measures e > 1.1 without any real surface growth.
        if row.get("x10", 0.0) < 1.0:
            continue
        if e > EXP_CEILING:
            bad[name] = {"e": e, "x3": row.get("x3"), "x10": row.get("x10")}
    assert not bad, (
        f"superlinear plans without an allowlist justification: {bad} — "
        "fix the plan (see stats.series_corr_pairs_auto for the r4 "
        "precedent) or add a written EXP_ALLOWLIST entry")


def test_every_heavy_bench_query_is_probed(scaling, bench):
    from kafka_bigdata_jobs_spark import suite

    reg = set(suite.registry())
    probed = set(scaling["queries"])
    missing = sorted(
        n for n, sec in bench.get("queries", {}).items()
        if sec >= COVERAGE_THRESHOLD_SEC and n in reg and n not in probed
    )
    assert not missing, (
        f"{len(missing)} heavy queries missing from the scaling probe "
        f"(run `make scaleprobe`): {missing[:10]}")


def test_allowlist_entries_are_live(scaling):
    """An allowlist entry for a query no longer probed (or no longer
    superlinear) is stale — remove it."""
    for name, reason in EXP_ALLOWLIST.items():
        assert reason.strip(), f"empty justification for {name}"
        row = scaling["queries"].get(name)
        assert row is not None, f"allowlisted {name} has no probe row"
        assert row.get("exp_x3_x10", 0) > EXP_CEILING, (
            f"allowlisted {name} is no longer superlinear — remove entry")


#: Measured recall@10 floors at 10× the sf0.1 corpus with index fit
#: parameters held at their production caps (fixed plane count, fixed
#: n_cells, capped codebook fit samples) — tools/ann_recall_scale.py.
#: Measured x10 values (2026-08-15): lsh 1350, ivf_kmeans 4650,
#: ivfpq 4500, pq_adc_rerank 5000 bp.  Floors sit below measurement
#: jitter but far above chance (k/n = 10/20000 = 5 bp); recall DECAY
#: vs x1 (lsh 3200, pq 8600) is expected physics for fixed-parameter
#: indexes on a growing corpus and is documented in SCALE.md — the
#: floor guards against collapse, not decay.
ANN_X10_RECALL_FLOOR_BP = {
    "bruteforce_exact": 10000,  # exact by construction at every scale
    "hyperplane_lsh": 700,
    "ivf_kmeans": 2500,
    "ivfpq": 2500,
    "pq_adc_rerank": 3000,
}


def test_ann_recall_holds_floor_at_x10(scaling):
    """r4 verdict item 6: recall at 10× corpus must be MEASURED (not
    extrapolated from sf0.1) and pinned.  Requires the ann_recall
    section — silently skipping would let the measurement rot."""
    ann = scaling.get("ann_recall")
    assert ann, "SCALING.json lacks ann_recall — run tools/ann_recall_scale.py"
    x10 = ann["scales"]["x10"]
    for method, floor in ANN_X10_RECALL_FLOOR_BP.items():
        got = x10[method]["recall_bp"]
        assert got >= floor, (
            f"{method} recall@10 collapsed at x10: {got}bp < {floor}bp")
    # Decay sanity: every method's x10 recall is still being compared
    # against the same exact truth (possible = n_queries * k).
    assert all(v["possible"] == x10["bruteforce_exact"]["possible"]
               for m, v in x10.items() if m != "_wall_sec")


#: r5 verdict item 5 + r6 verdict item 3: every probe row — in EVERY
#: measured SCALING section (queries, operator_variants, cold_builds)
#: and for EVERY measured exp_* leg — whose exponent is >= 1.0 carries
#: a one-line rationale here saying why linear(-ish) IS the floor for
#: that shape, so the next reader never has to re-derive it.  In-JSON
#: prose notes do NOT count (they can go stale silently — the r6 hier
#: row's e_x3_x10=1.01 escaped the sweep exactly that way); only this
#: reviewed dict gates.  Rows under the ceiling but over 1.0 are
#: legitimate (linear full-scan work + jitter); rows over the CEILING
#: need the separate EXP_ALLOWLIST with its stronger justification.
SUPERUNIT_RATIONALE: dict[str, str] = {
    "dedup_exact_summary": (
        "full-corpus hash-groupBy summary — every row is hashed and "
        "aggregated once, so linear is the algorithmic floor; 1.13 is "
        "linear plus sub-second-scale jitter (x10 wall < 1 s)"),
    "embedding_near_dup_pairs_hier": (
        "e(x30→x100)=1.35 on the FOURTH decade (5M rows), with "
        "e≤0.84 on every earlier leg, flat replication, and pairs "
        "bit-identical — the residual is attributed per stage in "
        "SCALE.md 'The x100 leg' (fit Θ(sample·B) with sample ∝ n and "
        "B ∝ n^⅔ below the cap; the replication B-GEMM + wide tier; "
        "pair-join shuffle volume): the current price of exact "
        "completeness with K tracking n, named as the next round's "
        "target, NOT an unnoticed regression — r8 already cut the "
        "leg from its first measurement (423 s → 347 s) by fixing "
        "three such terms, and test_hier_pair_search_probed_and_"
        "bounded pins the leg's ceiling so further regression fails"),
}

#: Sections of SCALING.json swept for superunit exponents.  Adding a
#: new measured section without enrolling it here is caught by
#: test_superunit_sweep_covers_every_section below.
SWEPT_SECTIONS = ("queries", "operator_variants", "cold_builds")
#: Sections that are not wall-clock-vs-scale rows (no exp_* keys of
#: the probed kind, or different semantics — recall floors etc.).
NON_EXPONENT_SECTIONS = (
    "ann_recall", "probe_rationale", "scales", "attempts",
    "auto_threshold_sec", "base")


def _exponent_rows(scaling):
    for section in SWEPT_SECTIONS:
        for name, row in scaling.get(section, {}).items():
            if not isinstance(row, dict):
                continue
            for key, e in row.items():
                if key.startswith("exp_") and isinstance(e, (int, float)):
                    yield section, name, key, e


def test_superunit_sweep_covers_every_section(scaling):
    unknown = [k for k in scaling
               if k not in SWEPT_SECTIONS and k not in NON_EXPONENT_SECTIONS]
    assert not unknown, (
        f"SCALING.json grew sections {unknown} the superunit sweep "
        "doesn't know — enroll them in SWEPT_SECTIONS or "
        "NON_EXPONENT_SECTIONS")


def test_every_superunit_exponent_has_rationale(scaling):
    missing = {}
    for section, name, key, e in _exponent_rows(scaling):
        if e < 1.0 or name in SUPERUNIT_RATIONALE or name in EXP_ALLOWLIST:
            continue
        missing[f"{section}.{name}.{key}"] = e
    assert not missing, (
        f"probe rows measured e >= 1.0 without a written rationale: "
        f"{missing} — add a SUPERUNIT_RATIONALE line (linear-floor "
        "shapes) or an EXP_ALLOWLIST entry (genuinely superlinear)")


def test_stale_superunit_rationales_removed(scaling):
    rows = {}
    for section in SWEPT_SECTIONS:
        rows.update(scaling.get(section, {}))
    for name in SUPERUNIT_RATIONALE:
        row = rows.get(name)
        assert row is not None, f"rationale for unprobed query {name}"
        superunit = [e for k, e in row.items()
                     if k.startswith("exp_") and isinstance(e, (int, float))
                     and e >= 1.0]
        assert superunit, (
            f"{name} no longer measures any e >= 1.0 — drop its rationale")


#: r5 verdict item 6: the shared pair-relation COLD BUILDS (bench.py's
#: cold_builds numbers) carry measured x1/x3/x10 exponents — at 100 TB
#: the build IS the job.  Signature agg + banded join should be
#: linear-ish; the ceiling mirrors the query rule.
COLD_BUILD_FAMILIES = ("near_dup_funnel", "embedding_pairs")


def test_cold_builds_probed_and_linear(scaling):
    cb = scaling.get("cold_builds")
    assert cb, "SCALING.json lacks cold_builds — run `make scaleprobe-cold`"
    for fam in COLD_BUILD_FAMILIES:
        row = cb.get(fam)
        assert row, f"cold_builds missing family {fam}"
        assert str(row.get("rationale", "")).strip(), (
            f"cold_builds[{fam}] needs a one-line shape rationale")
        assert row["exp_x3_x10"] <= EXP_CEILING, (
            f"cold build {fam} measures superlinear "
            f"(e={row['exp_x3_x10']}) — the build is the job at scale")


def test_hier_pair_search_probed_and_bounded(scaling):
    """r5 verdict item 1 + r6 verdict items 1/6: the SCALING row for
    the cell-partitioned exact pair path (`embedding_near_dup_pairs_hier`,
    the `embedding_close_pairs` auto dispatch past max_side_bytes),
    measured on clustered corpora where qualifying pairs grow linearly
    by construction (tools/embpairs_probe.py), now through x30 (1.5M
    rows) with the THREE-LEVEL quantizer.

    Round-7 measured row: 5.95/9.54/14.48/35.25 s at x1/x3/x10/x30,
    e(x1→x10)=0.39, e(x10→x30)=0.81, replication flat
    13.5/11.2/9.2/9.1 — so the ceilings tighten from r6's 1.35 (the
    old Θ(n·√K)-assignment budget) to 1.0 / 1.1.  The replication pin
    is the cost-blowup early signal: the probe caught two radius-
    poisoning regressions this round (super-preselection misses at
    x10 and x30) as GROWING replication at unchanged output, which no
    correctness gate can see.
    """
    row = scaling.get("operator_variants", {}).get(
        "embedding_near_dup_pairs_hier")
    assert row, ("SCALING.json lacks the hier pair-search row — run "
                 "`make embpairs-probe`")
    assert row["verified_vs_blocked_x1"] is True, (
        "hier output no longer matches the blocked exact path at x1")
    assert row["exp_x1_x10"] <= 1.0, (
        f"hier pair search e(x1→x10)={row['exp_x1_x10']} regressed past "
        "linear — a pair/replication/fit surface is growing")
    assert row["exp_x10_x30"] <= 1.1, (
        f"hier pair search e(x10→x30)={row['exp_x10_x30']} regressed — "
        "check the auto-scaled fit sample (K must track n/leaf_target "
        "below FIT_SAMPLE_ROWS_CAP) and the escalation cap")
    # replication factor must stay FLAT and far under the runtime
    # guard's ceiling: growth here is the radius-poisoning signature.
    for s in ("x1", "x3", "x10", "x30", "x100"):
        assert row[f"rep_{s}"] <= 20.0, (
            f"replication factor at {s} = {row[f'rep_{s}']} — covering "
            "radii are inflating (home-assignment quality regression)")
    # r8 fourth-decade leg (x100, 5M rows): honestly superlinear —
    # e(x30→x100)=1.35 with the residual attributed per stage in
    # SCALE.md "The x100 leg" (SUPERUNIT_RATIONALE carries the
    # one-liner).  The pin is a regression CEILING, not a target:
    # r8 cut the leg 423 s → 347 s by fixing three superlinear terms
    # the three-decade probes had hidden; growth past 1.45 means a
    # new one appeared.
    assert row["exp_x30_x100"] <= 1.45, (
        f"hier pair search e(x30→x100)={row['exp_x30_x100']} regressed "
        "past the documented r8 ceiling — re-profile the phase times "
        "(HierStats.phase_seconds, tools/embpairs_probe.py) first")
    # qualifying pairs are planted to grow ∝ n (10% twins per corpus):
    # superlinear OUTPUT growth means the generator or threshold broke.
    assert row["rows_x10"] <= 12 * row["rows_x1"], (
        "pair count grew faster than the corpus — probe data defect")
    assert row["rows_x30"] <= 4 * row["rows_x10"], (
        "pair count grew faster than the corpus on the x30 leg")
    assert row["rows_x100"] <= 4 * row["rows_x30"], (
        "pair count grew faster than the corpus on the x100 leg")
