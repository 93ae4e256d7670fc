"""Size-dispatched exact embedding pair search (r5 verdict item 1).

``embedding_near_dup_pairs_auto`` must produce IDENTICAL output on both
sides of the ``max_side_bytes`` cutover: the numpy-blocked matmul path
below it, the three-level leaf-partitioned hier path (covering-radius
multi-assignment) above it.  The hier path's completeness is a theorem
(triangle inequality on sphere angles — see the
``embedding_near_dup_pairs_hier`` docstring); these tests check the
implementation against the brute-force upper-triangle join
bit-for-bit, including on synthetic data engineered so qualifying
pairs STRADDLE leaf boundaries.
"""

from __future__ import annotations

import copy

import numpy as np
import pytest

from kafka_bigdata_jobs_spark.operators.similarity import (
    HierStats,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_auto,
    embedding_near_dup_pairs_hier,
)

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df) -> list[tuple]:
    return sorted((r["id_a"], r["id_b"], r["cosine"]) for r in df.collect())


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.mark.parametrize("threshold", [0.45, 0.9])
def test_hier_matches_bruteforce_fixture(spark, emb, threshold):
    brute = _pairs(embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=threshold))
    hier = _pairs(embedding_near_dup_pairs_hier(
        emb, "vec_id", "embedding", threshold=threshold))
    assert hier == brute


def test_blocked_slabs_match_bruteforce(spark, emb, monkeypatch):
    """The blocked path multiplies each Arrow batch against the corpus
    in row slabs of ~BLOCKED_SLAB_BYTES: with slabs of 7 rows, every
    batch splits and the output must still equal brute force."""
    import kafka_bigdata_jobs_spark.operators.similarity as sim

    n = emb.count()
    monkeypatch.setattr(sim, "BLOCKED_SLAB_BYTES", 8 * n * 7)
    brute = _pairs(embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45))
    slabs = _pairs(sim.embedding_near_dup_pairs_blocked(
        emb, "vec_id", "embedding", threshold=0.45))
    assert len(brute) > 0
    assert slabs == brute


def test_auto_identical_output_across_cutover(spark, emb):
    """The dispatch decision must be invisible in the result: force each
    path via max_side_bytes and compare against brute force."""
    brute = _pairs(embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45))
    st = HierStats()
    below = _pairs(embedding_near_dup_pairs_auto(
        emb, "vec_id", "embedding", threshold=0.45,
        max_side_bytes=1 << 30, stats=st))
    assert st.path == "blocked"
    st = HierStats()
    above = _pairs(embedding_near_dup_pairs_auto(
        emb, "vec_id", "embedding", threshold=0.45, max_side_bytes=1,
        stats=st))
    assert st.path == "hier"
    assert below == brute
    assert above == brute
    # blocked and hier are auto's only exact paths: no n_cells switch
    with pytest.raises(TypeError, match="n_cells"):
        embedding_near_dup_pairs_auto(
            emb, "vec_id", "embedding", threshold=0.45, n_cells=8)


def test_hier_complete_on_boundary_straddling_pairs(spark):
    """Synthetic stress: tight planted near-dup pairs whose members sit
    in DIFFERENT leaves unless the covering-radius replication works.
    Two broad arcs of points with planted pairs at the arc boundary;
    many more leaves than arcs so the quantizer is forced to split arcs
    mid-way."""
    rng = np.random.default_rng(7)
    dim, n_background, n_planted = 8, 240, 30
    rows = []
    vid = 0
    # background: points spread over two half-spaces
    for _ in range(n_background):
        v = rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    # planted: pairs at angle ~10 degrees (cos ~0.985), random placement
    for _ in range(n_planted):
        a = rng.normal(size=dim)
        a /= np.linalg.norm(a)
        # random small rotation: mix with an orthogonalized direction
        d = rng.normal(size=dim)
        d -= d.dot(a) * a
        d /= np.linalg.norm(d)
        ang = np.deg2rad(10)
        b = np.cos(ang) * a + np.sin(ang) * d
        rows.append((vid, [float(x) for x in a])); vid += 1
        rows.append((vid, [float(x) for x in b])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = _pairs(embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.97, dim=dim))
    assert len(brute) >= n_planted  # the planted pairs qualify
    hier = _pairs(embedding_near_dup_pairs_hier(
        df, "vec_id", "embedding", threshold=0.97, dim=dim, leaf_target=24))
    assert hier == brute


def test_hier_zero_vector_does_not_poison_radii(spark):
    """A zero-norm vector in a cell used to make that cell's covering
    radius NaN, silently losing the cell's REAL pairs — now it is
    excluded up front (output-equivalent: its cosine is NaN and can
    never qualify in either engine)."""
    rng = np.random.default_rng(3)
    dim = 8
    rows = []
    for vid in range(60):
        v = rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
    # planted twin pair + a zero vector
    rows.append((100, rows[0][1]))
    rows.append((101, [0.0] * dim))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = _pairs(embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.99, dim=dim))
    assert (0, 100, 1.0) in brute
    got = _pairs(embedding_near_dup_pairs_hier(
        df, "vec_id", "embedding", threshold=0.99, dim=dim, leaf_target=10))
    assert got == brute


def _clustered_corpus(rng, n_clusters, per_cluster, dim, width_deg=8.0,
                      antipodal_spread=True):
    """Unit vectors in tight content clusters (the SemDeDup-class
    workload the hier path exists for)."""
    rows, vid = [], 0
    for _ in range(n_clusters):
        c = rng.normal(size=dim)
        c /= np.linalg.norm(c)
        for _ in range(per_cluster):
            d = rng.normal(size=dim)
            d -= d.dot(c) * c
            d /= np.linalg.norm(d)
            phi = np.deg2rad(width_deg * rng.random())
            v = np.cos(phi) * c + np.sin(phi) * d
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return rows


def test_hier_three_level_supers_bit_equal(spark):
    """r6 verdict item 1: with enough branches the SUPER level must
    activate (stats.levels == 3) and the output must stay bit-identical
    to the numpy-blocked exact path — the same contract the x1 probe
    gate enforces at 50k rows, pinned here at unit-test scale.
    leaf_target=4 over 3000 rows yields ~750 leaves → ~165 branches →
    ~36 supers, so every three-level code path (super scan, probed-
    branch merge, super-radius replication prune) executes."""
    from kafka_bigdata_jobs_spark.operators.similarity import (
        embedding_near_dup_pairs_blocked,
    )

    rng = np.random.default_rng(11)
    dim = 8
    rows = _clustered_corpus(rng, n_clusters=60, per_cluster=50, dim=dim)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    blocked = _pairs(embedding_near_dup_pairs_blocked(
        df, "vec_id", "embedding", threshold=0.97, dim=dim))
    assert len(blocked) > 0  # in-cluster pairs qualify by construction
    st = HierStats()
    hier = _pairs(embedding_near_dup_pairs_hier(
        df, "vec_id", "embedding", threshold=0.97, dim=dim, leaf_target=4,
        stats=st))
    assert st.levels == 3
    assert hier == blocked


def test_replication_guard_trips_on_structureless_corpus(spark):
    """r6 verdict item 2: uniform high-dim noise at a θ_t that rivals
    the data's own angular spread degenerates the exact pair search
    toward all-pairs; the guard must fail loudly BEFORE the pair
    matmul, naming the approximate alternatives — not fill the disk
    (the r6 probe incidents)."""
    from kafka_bigdata_jobs_spark.operators.similarity import (
        CoveringRadiusBlowupError,
    )

    rng = np.random.default_rng(5)
    dim, n = 16, 3000
    rows = []
    for vid in range(n):
        v = rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(CoveringRadiusBlowupError,
                       match="replication factor.*all-pairs"):
        embedding_near_dup_pairs_hier(
            df, "vec_id", "embedding", threshold=0.7, dim=dim,
            leaf_target=16, guard_min_rows=0)


def test_replication_guard_passes_clustered_corpus(spark):
    """The guard must NOT trip on the workload the operator exists for:
    tight content clusters keep the measured replication factor far
    under the ceiling, and the guarded run still returns the exact
    output (the cached replica relation is REUSED, not recomputed)."""
    from kafka_bigdata_jobs_spark.operators.similarity import (
        embedding_near_dup_pairs_blocked,
    )

    rng = np.random.default_rng(13)
    dim = 8
    rows = _clustered_corpus(rng, n_clusters=40, per_cluster=40, dim=dim)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    blocked = _pairs(embedding_near_dup_pairs_blocked(
        df, "vec_id", "embedding", threshold=0.97, dim=dim))
    st = HierStats()
    hier = _pairs(embedding_near_dup_pairs_hier(
        df, "vec_id", "embedding", threshold=0.97, dim=dim,
        leaf_target=8, guard_min_rows=0, stats=st))
    assert hier == blocked
    rep = st.replication
    assert rep is not None and rep < 32.0, (
        f"clustered corpus measured replication {rep} — the guard "
        "would reject the operator's own workload")


def test_hier_fit_sample_covers_file_tail(spark, monkeypatch):
    """Regression (r6): the fit sample must be ORDER-INDEPENDENT.

    The original hier fit used ``.sample(frac).limit(cap)`` — ``limit``
    keeps the first rows in FILE ORDER, so on a corpus written in
    content-cluster order the tail clusters contributed zero fit
    points.  Their members then homed ~90° away and poisoned those
    leaves' covering radii: measured on the 500k-row probe corpus, the
    last 24 of 500 clusters went unsampled and the mean replication
    factor exploded from 9 to 210 (a ~55 GB shuffle that filled the
    host disk).  Output stayed bit-exact — the failure is quadratic
    COST, which no correctness gate sees — so this pins the sample
    itself: fit input must include rows from the corpus tail.

    The corpus here has two well-separated clusters written in order;
    the second (tail) cluster is the last 3% of rows — smaller than the
    ~4.7% file-order window the biased sampler drops (cap/expected =
    1/1.05), so under the old code the captured sample contains ZERO
    tail rows (verified by inverting this assert against it); the
    unbiased sampler carries ~3%.
    """
    import kafka_bigdata_jobs_spark.operators.similarity as sim

    rng = np.random.default_rng(7)
    n, dim = 4000, 8
    c1 = rng.normal(size=dim); c1 /= np.linalg.norm(c1)
    c2 = -c1  # antipodal: no fit point of cluster 1 is near cluster 2
    rows = []
    for i in range(n):
        c = c1 if i < 0.97 * n else c2
        d = rng.normal(size=dim); d -= d.dot(c) * c; d /= np.linalg.norm(d)
        phi = np.deg2rad(5 + 10 * rng.random())
        v = np.cos(phi) * c + np.sin(phi) * d
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    df = df.coalesce(1).sortWithinPartitions("vec_id")  # file order = cluster order

    captured = {}
    real_fit = sim._fit_two_level

    def spy(sample_mat, *args, **kwargs):
        captured["sample"] = np.asarray(sample_mat)
        return real_fit(sample_mat, *args, **kwargs)

    monkeypatch.setattr(sim, "_fit_two_level", spy)
    embedding_near_dup_pairs_hier(
        df, "vec_id", "embedding", threshold=0.95, dim=dim,
        fit_sample_rows=512).count()
    sample = captured["sample"]
    # tail-cluster membership: closer to c2 than c1
    tail = (sample @ c2) > (sample @ c1)
    frac = tail.mean()
    assert len(sample) <= 512
    assert 0.005 <= frac, (
        f"fit sample carries {frac:.1%} tail-cluster rows — the sampler "
        "is file-order biased again (expected ~3%)")


def test_distributed_fit_bit_equal_and_k_tracks_n(spark, monkeypatch):
    """r7 verdict item 1: the two-stage executor-side leaf fit must
    (a) produce the exact output (same covering-radius theorem — fit
    choice is quality-only, every pair is exact-verified), and
    (b) keep K tracking n/leaf_target where the DRIVER fit's sample
    cap would clamp it.  The fit path follows only from the input
    size against ``FIT_SAMPLE_ROWS_CAP``: at the real cap the unit
    corpus takes the driver fit; with the cap monkeypatched down it
    sits 'past the ceiling' the same way a 100M-row corpus sits past
    the real 1M-row cap, and the distributed fit runs."""
    import kafka_bigdata_jobs_spark.operators.similarity as sim
    from kafka_bigdata_jobs_spark.operators.similarity import (
        embedding_near_dup_pairs_blocked,
    )

    rng = np.random.default_rng(23)
    dim = 8
    rows = _clustered_corpus(rng, n_clusters=60, per_cluster=50, dim=dim)
    n = len(rows)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    blocked = _pairs(embedding_near_dup_pairs_blocked(
        df, "vec_id", "embedding", threshold=0.97, dim=dim))
    assert len(blocked) > 0

    # the fit path is not a caller option
    for knob in ({"fit_mode": "distributed"}, {"home_probes": 8}):
        with pytest.raises(TypeError):
            embedding_near_dup_pairs_hier(
                df, "vec_id", "embedding", threshold=0.97, dim=dim, **knob)

    # real cap: the driver fit, bit-equal output
    st = HierStats()
    drv = _pairs(embedding_near_dup_pairs_hier(
        df, "vec_id", "embedding", threshold=0.97, dim=dim,
        leaf_target=6, stats=st))
    assert st.fit_mode == "driver"
    assert drv == blocked

    # past-the-ceiling regime: the distributed fit runs and K keeps
    # tracking n/leaf_target
    monkeypatch.setattr(sim, "FIT_SAMPLE_ROWS_CAP", 256)
    st = HierStats()
    dist = _pairs(embedding_near_dup_pairs_hier(
        df, "vec_id", "embedding", threshold=0.97, dim=dim,
        leaf_target=6, fit_sample_rows=64, stats=st))
    assert st.fit_mode == "distributed"
    assert dist == blocked
    # a driver fit clamped by the cap reaches at most K ~ cap/4 (±
    # per-branch rounding in _fit_two_level's proportional leaf
    # allocation): the distributed K must clear twice that bound
    k_clamped = int(1.25 * 256 // 4)
    assert st.k >= 2 * k_clamped, (
        f"distributed fit K={st.k} does not track n/leaf_target="
        f"{n // 6} past the (patched) driver cap (clamped driver "
        f"K <= {k_clamped})")


def test_on_blowup_fallback_routes_to_semdedup(spark):
    """r7 verdict item 5: an unattended 100-TB pipeline wants graceful
    degradation, not death at hour N.  on_blowup='fallback' must
    (a) on a structureless corpus: catch the guard's named error,
    route to the APPROXIMATE SemDeDup within-cell pair search, tag
    rows method='semdedup_cells', and produce exactly the within-cell
    path's output; (b) on clustered data: NEVER activate — the exact
    path runs and rows say method='exact'."""
    from kafka_bigdata_jobs_spark.operators.similarity import (
        CoveringRadiusBlowupError,
        kmeans_ivf_cells,
    )

    # (a) structureless: uniform high-dim noise at a threshold that
    # rivals its angular spread (same corpus family as the guard test)
    rng = np.random.default_rng(29)
    dim, n = 16, 3000
    rows = []
    for vid in range(n):
        v = rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
    noise = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    # raise mode: the named error propagates (the default contract)
    with pytest.raises(CoveringRadiusBlowupError):
        embedding_near_dup_pairs_auto(
            noise, "vec_id", "embedding", threshold=0.7, dim=dim,
            max_side_bytes=1, guard_min_rows=0, max_replication=2.0)
    st = HierStats()
    got = embedding_near_dup_pairs_auto(
        noise, "vec_id", "embedding", threshold=0.7, dim=dim,
        max_side_bytes=1, guard_min_rows=0, max_replication=2.0,
        on_blowup="fallback", stats=st)
    assert st.path == "semdedup_fallback"
    assert st.method == "semdedup_cells"
    assert got.columns == ["id_a", "id_b", "cosine", "method"]
    got_rows = {(r["id_a"], r["id_b"], r["cosine"]) for r in got.collect()}
    assert {r["method"] for r in got.select("method").distinct().collect()
            } <= {"semdedup_cells"}
    # the fallback must BE the SemDeDup within-cell path's output
    fb_cells = max(16, min(4096, n // 256))
    assigned, _ = kmeans_ivf_cells(
        noise, "vec_id", "embedding", n_cells=fb_cells, seed=42, dim=dim)
    want = {(r["id_a"], r["id_b"], r["cosine"])
            for r in embedding_near_dup_pairs(
                assigned, "vec_id", "embedding", threshold=0.7,
                cell_col="__cell", dim=dim).collect()}
    assert got_rows == want

    # (b) clustered: fallback never silently activates
    rng2 = np.random.default_rng(31)
    crows = _clustered_corpus(rng2, n_clusters=40, per_cluster=40, dim=8)
    cdf = spark.createDataFrame(
        crows, "vec_id long, embedding array<double>")
    brute = _pairs(embedding_near_dup_pairs(
        cdf, "vec_id", "embedding", threshold=0.97, dim=8))
    st = HierStats()
    res = embedding_near_dup_pairs_auto(
        cdf, "vec_id", "embedding", threshold=0.97, dim=8,
        max_side_bytes=1, guard_min_rows=0, on_blowup="fallback", stats=st)
    assert st.method == "exact"
    assert res.columns == ["id_a", "id_b", "cosine", "method"]
    assert _pairs(res.drop("method")) == brute


def test_exact_home_prepare_matches_inline_build():
    """r9 esc-cap fix: the executor scan hoists the quantizer-derived
    state (``_exact_home_prepare``) once per task instead of rebuilding
    it per Arrow batch.  Pin that (a) the hoisted state produces
    BIT-IDENTICAL exact home angles to the build-inline form, and
    (b) the argsort-based ``leaves_of`` equals the per-branch nonzero
    lists it replaced — including leafless (dead) branches."""
    from kafka_bigdata_jobs_spark.operators.similarity import (
        _exact_home_angles,
        _exact_home_prepare,
    )

    rng = np.random.default_rng(7)
    dim, n_b, k = 16, 13, 61
    bcenters = rng.normal(size=(n_b, dim))
    bcenters /= np.linalg.norm(bcenters, axis=1, keepdims=True)
    leaf_centers = rng.normal(size=(k, dim))
    leaf_centers /= np.linalg.norm(leaf_centers, axis=1, keepdims=True)
    # branch 5 deliberately leafless (dead-branch path)
    leaf_branch = np.array(
        [b for b in (rng.integers(0, n_b, size=k)) if True], dtype=np.int64)
    leaf_branch[leaf_branch == 5] = 6
    mat = rng.normal(size=(500, dim))

    prep = _exact_home_prepare(bcenters, leaf_centers, leaf_branch)
    # (b) leaves_of == the nonzero form, ascending per branch
    leaves_of = prep[1]
    for b in range(n_b):
        assert np.array_equal(
            leaves_of[b], np.nonzero(leaf_branch == b)[0]), b
    # (a) angles identical with and without the hoisted state
    got = _exact_home_angles(mat, bcenters, leaf_centers, leaf_branch,
                             prep=prep)
    want = _exact_home_angles(mat, bcenters, leaf_centers, leaf_branch)
    assert np.array_equal(got, want)
    # sanity: every angle is the true full-leaf exact minimum
    xn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    brute = np.arccos(np.clip((xn @ leaf_centers.T).max(axis=1), -1, 1))
    assert np.allclose(got, brute, atol=1e-12)


def test_tail_partition_floor_binds_only_at_scale():
    """r10 VERDICT item 4: the hier tail's leaf-exchange partition
    floor must (a) keep bench-scale plans untouched (None — the
    unfloored repartition), (b) bound the per-task tagged bytes at
    scale, and (c) stay None when the guard was skipped."""
    from kafka_bigdata_jobs_spark.operators.similarity import (
        LEAF_PART_TARGET_BYTES,
        TAGGED_ROW_OVERHEAD_BYTES,
        _tail_partition_floor,
    )

    # guard skipped (small corpus) -> no floor
    assert _tail_partition_floor(10_000, None, 64, 200) is None
    # probe-scale corpus (x100: 5M rows, rep ~9, dim 64): tagged bytes
    # ~8 GB << 200 x 128 MB -> default partitioning preserved
    assert _tail_partition_floor(5_000_000, 9.0, 64, 200) is None
    # 100x that corpus: floor binds, and bounds per-task bytes
    n, rep, dim, parts = 500_000_000, 9.0, 64, 200
    got = _tail_partition_floor(n, rep, dim, parts)
    assert got is not None and got > parts
    bytes_tagged = int(n * (1 + rep)) * (dim * 2 + TAGGED_ROW_OVERHEAD_BYTES)
    assert bytes_tagged / got <= LEAF_PART_TARGET_BYTES
    # and the floor is tight (no over-partitioning): one fewer
    # partition would exceed the target
    assert bytes_tagged / (got - 1) > LEAF_PART_TARGET_BYTES


def test_stats_record_is_per_call(spark):
    """Each hier call fills only the HierStats record it was handed:
    two calls on different corpora in one session keep their own K,
    replication factor and phase times, and the first record is
    untouched by the second call (the process-global ``last_*``
    attributes this record replaced were overwritten by every call)."""
    rng = np.random.default_rng(41)
    dim = 8
    small = spark.createDataFrame(
        _clustered_corpus(rng, n_clusters=20, per_cluster=40, dim=dim),
        "vec_id long, embedding array<double>")
    big = spark.createDataFrame(
        _clustered_corpus(rng, n_clusters=60, per_cluster=50, dim=dim),
        "vec_id long, embedding array<double>")
    first, second = HierStats(), HierStats()
    embedding_near_dup_pairs_hier(
        small, "vec_id", "embedding", threshold=0.97, dim=dim,
        leaf_target=64, guard_min_rows=0, stats=first).count()
    snapshot = copy.deepcopy(first)
    out = embedding_near_dup_pairs_hier(
        big, "vec_id", "embedding", threshold=0.97, dim=dim,
        leaf_target=4, guard_min_rows=0, stats=second)
    with second.phase(spark, "tail"):
        out.count()
    assert first == snapshot
    assert first.k != second.k
    assert first.replication is not None and second.replication is not None
    assert first.replication != second.replication
    phases = {"scan", "fit", "assign", "replicate"}
    assert set(first.phase_seconds) == phases
    assert set(second.phase_seconds) == phases | {"tail"}
    assert all(v >= 0 for v in second.phase_seconds.values())
    assert first.fit_seconds and second.fit_seconds
    assert first.levels == 2 and second.levels == 3
    # phase job tags are scoped to their phase
    assert not spark.sparkContext.getJobTags()
