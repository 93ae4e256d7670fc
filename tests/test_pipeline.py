"""Training-data pipeline operators: edge cases the oracle queries
don't reach (empty/short docs, exact-multiple lengths, append
stability of hash splits, PII scrubbing on synthetic text)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_bigdata_jobs_spark.operators.pipeline import (
    assign_split,
    chunk_documents,
    distinctive_terms,
    scrub_pii,
    stratified_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_covers_every_char_once_per_stride(spark):
    # len 250, size 100, overlap 20 -> stride 80 -> starts 0,80,160,240
    text = "x" * 250
    out = chunk_documents(
        _docs(spark, [(1, text)]), "doc_id", "text", 100, 20
    ).collect()
    assert [r["chunk_id"] for r in out] == [0, 1, 2, 3]
    assert [r["chunk_len"] for r in out] == [100, 100, 90, 10]
    # overlapping coverage: concatenating stride-prefixes rebuilds the doc
    rebuilt = "".join(r["chunk_text"][:80] for r in out)
    assert rebuilt == text


def test_chunk_short_and_exact_multiple(spark):
    out = chunk_documents(
        _docs(spark, [(1, "ab"), (2, "y" * 160)]), "doc_id", "text", 100, 20
    )
    got = {(r["doc_id"], r["chunk_id"]): r["chunk_len"] for r in out.collect()}
    # shorter than one chunk -> single short chunk
    assert got[(1, 0)] == 2
    # 160 = 2*stride: last chunk exactly covers the tail (no empty chunk)
    assert got[(2, 0)] == 100 and got[(2, 1)] == 80
    assert (2, 2) not in got


def test_split_assignment_is_append_stable(spark):
    base = spark.range(0, 500).withColumnRenamed("id", "k")
    grown = spark.range(0, 1000).withColumnRenamed("id", "k")
    a = {r["k"]: r["split"] for r in assign_split(base, "k").collect()}
    b = {r["k"]: r["split"] for r in assign_split(grown, "k").collect()}
    assert all(b[k] == v for k, v in a.items())  # old keys never move
    sizes = {s: sum(1 for v in b.values() if v == s) for s in ("train", "val", "test")}
    assert 700 < sizes["train"] < 900  # ~80% of 1000
    assert sizes["train"] + sizes["val"] + sizes["test"] == 1000


def test_stratified_sample_is_deterministic_and_rough_fraction(spark):
    d = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("string").alias("stratum")
    )
    s1 = stratified_sample(d, "k", 25, strata=["stratum"]).collect()
    s2 = stratified_sample(d, "k", 25, strata=["stratum"]).collect()
    assert sorted(r["k"] for r in s1) == sorted(r["k"] for r in s2)
    assert 350 < len(s1) < 650  # ~25% of 2000


def test_scrub_pii_redacts_and_counts(spark):
    rows = [
        (1, "mail me at alice.smith+x@example.co.uk please"),
        (2, "call +1 (555) 123-4567 or 555-12-3456 now"),
        (3, "nothing sensitive here"),
    ]
    out = scrub_pii(
        _docs(spark, rows), "text", out_col="clean", count_col="n_redactions"
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert "<EMAIL>" in got[1]["clean"] and "@" not in got[1]["clean"]
    assert got[1]["n_redactions"] == 1
    assert "<PHONE>" in got[2]["clean"] and "<SSN>" in got[2]["clean"]
    assert got[2]["n_redactions"] == 2
    assert got[3]["clean"] == rows[2][1] and got[3]["n_redactions"] == 0


def test_distinctive_terms_rank_is_total_order(spark):
    d = _docs(
        spark,
        [
            (1, "apple apple banana cherry"),
            (2, "banana banana cherry cherry date"),
            (3, "apple cherry"),
        ],
    )
    out = distinctive_terms(d, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf"], r["df"]))
    # doc1: apple tf=2 wins; banana (df=2) beats cherry (df=3) at tf=1
    assert sorted(by_doc[1]) == [(1, "apple", 2, 2), (2, "banana", 1, 2)]
    # doc2: tf=2 tie between banana/cherry -> banana first (df 2 < 3)
    assert sorted(by_doc[2])[0] == (1, "banana", 2, 2)


def test_connected_components_chain_and_clique(spark):
    """Chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair
    20-21: labels converge to the component minimum for every node."""
    from kafka_bigdata_jobs_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_cutover_boundary(spark, monkeypatch):
    """The driver/distributed dispatch (DRIVER_EDGE_LIMIT) must be
    invisible to callers: at edge counts straddling the limit, both
    paths return identical min-label components (VERDICT r1 item 10)."""
    from kafka_bigdata_jobs_spark.operators import dedup
    from kafka_bigdata_jobs_spark.operators.dedup import connected_components

    # 8 edges: a 5-chain (diameter stresses the iterative path), a
    # triangle and an isolated pair.
    rows = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
            (20, 21)]
    edges = spark.createDataFrame(rows, "id_a bigint, id_b bigint")
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # limit above the edge count -> driver union-find; below -> the
    # distributed min-label loop (the only path that checkpoints its
    # labels).  Same output either side.
    checkpoints = []
    real = type(edges).localCheckpoint
    monkeypatch.setattr(type(edges), "localCheckpoint",
                        lambda df, *a, **kw: checkpoints.append(1)
                        or real(df, *a, **kw))
    for limit, distributed in ((len(rows), False), (len(rows) - 1, True)):
        monkeypatch.setattr(dedup, "DRIVER_EDGE_LIMIT", limit)
        checkpoints.clear()
        got = {r["node"]: r["comp"]
               for r in connected_components(edges).collect()}
        assert bool(checkpoints) == distributed, limit
        assert got == expected, f"paths diverge at DRIVER_EDGE_LIMIT={limit}"


def test_sample_k_per_group_deterministic_and_bounded(spark):
    from kafka_bigdata_jobs_spark.operators.pipeline import sample_k_per_group

    df = spark.range(500).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("rid")
    )
    a = sample_k_per_group(df, ["g"], 7, "rid").collect()
    b = sample_k_per_group(df, ["g"], 7, "rid").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_g = {}
    for r in a:
        per_g.setdefault(r["g"], set()).add(r["rid"])
    assert all(len(v) == 7 for v in per_g.values())
    # k larger than the group returns the whole group, no padding
    tiny = sample_k_per_group(df.where(F.col("rid") < 3), ["g"], 7, "rid")
    assert tiny.count() == 3


def test_pack_greedy_bins_contiguous_fill(spark):
    from kafka_bigdata_jobs_spark.operators.pipeline import pack_greedy_bins

    rows = [("a", i, sz) for i, sz in enumerate([60, 60, 60, 250, 10, 90, 90])]
    df = spark.createDataFrame(rows, "part string, seq int, sz int")
    out = {
        r["seq"]: r["bin_id"]
        for r in pack_greedy_bins(df, "part", "seq", "sz", 100).collect()
    }
    # cumsum-before: 0,60,120,180,430,440,530 -> bins 0,0,1,1,4,4,5
    assert out == {0: 0, 1: 0, 2: 1, 3: 1, 4: 4, 5: 4, 6: 5}
    # bin ids never decrease along the order (contiguity)
    seqs = sorted(out)
    assert all(out[a] <= out[b] for a, b in zip(seqs, seqs[1:]))
