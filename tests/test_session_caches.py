"""The session memo (``session.session_memo`` / ``session_cached`` /
``forget``): other sessions' entries are evicted on access, a handle
re-marked after ``catalog.clearCache()`` is the memo's entry and is
already populated, ``forget`` drops only the families it names, and a
memoized quantizer fit returns exactly what a fresh fit returns."""

from __future__ import annotations

import numpy as np

from kafka_bigdata_jobs_spark import session, suite
from kafka_bigdata_jobs_spark.operators import similarity, textproj

SF = "/root/testdata/sf0.001"


def _key(spark, *key):
    return (spark.sparkContext.applicationId, *key)


def _is_populated(spark, df) -> bool:
    """Whether ``df``'s cache entry holds materialized column buffers
    (a lazily re-marked handle has an entry with none)."""
    cached = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(df._jdf)
    return (cached.isDefined() and cached.get().cachedRepresentation()
            .cacheBuilder().isCachedColumnBuffersLoaded())


def test_dead_session_entries_evicted(spark):
    session._MEMO[("dead-app-123", "near_dup_pairs", SF)] = object()
    session._MEMO[("dead-app-456", "bpe_merges", "/x")] = object()
    builds = []

    def build():
        builds.append(SF)
        return 7

    for _ in range(2):
        assert session.session_memo(spark, ("test_family", SF), build) == 7
    assert builds == [SF]  # built once, then a hit
    assert not [k for k in session._MEMO
                if k[0] != spark.sparkContext.applicationId]
    session.forget(spark, "test_family")


def test_recache_handle_stored_back(spark):
    session.forget(spark, "near_dup_pairs")
    df1 = suite._shared_near_dup_pairs(spark, SF)
    key = _key(spark, "near_dup_pairs", SF)
    assert session._MEMO[key] is df1
    df1.count()  # materialize the cache
    spark.catalog.clearCache()  # bench isolation drops CacheManager entry
    df2 = suite._shared_near_dup_pairs(spark, SF)
    lvl = df2.storageLevel
    assert lvl.useMemory or lvl.useDisk  # re-marked
    # The re-marked handle is the memo entry now — a third call must not
    # find an uncached handle again.
    assert session._MEMO[key] is df2
    assert suite._shared_near_dup_pairs(spark, SF) is df2


def test_dead_entry_evicted_via_shared_accessor(spark):
    dead = ("dead-app-789", "embedding_pairs", SF)
    session._MEMO[dead] = object()
    suite._shared_embedding_pairs(spark, SF)
    assert dead not in session._MEMO


def test_tokenized_documents_remark_is_eager(spark):
    """After ``clearCache()`` a tokenized_documents hit is re-marked AND
    repopulated before it is returned: its first consumer reads a
    populated cache instead of racing the population."""
    textproj.tokenized_documents(spark, SF).count()
    spark.catalog.clearCache()
    df = textproj.tokenized_documents(spark, SF)
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert _is_populated(spark, df)
    assert session._MEMO[_key(spark, "tokenized_documents", SF)] is df


def test_forget_drops_only_named_family(spark):
    pairs = suite._shared_near_dup_pairs(spark, SF)
    docs = textproj.tokenized_documents(spark, SF)
    pairs.count()
    docs.count()
    session.forget(spark, "near_dup_pairs")
    assert _key(spark, "near_dup_pairs", SF) not in session._MEMO
    assert not (pairs.storageLevel.useMemory or pairs.storageLevel.useDisk)
    assert session._MEMO[_key(spark, "tokenized_documents", SF)] is docs
    assert docs.storageLevel.useMemory or docs.storageLevel.useDisk


def test_memoized_quantizer_fits_equal_fresh_fits(spark):
    """A ``cache_key`` fit (miss, then hit) returns exactly what a
    ``cache_key=None`` fit returns."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    key = "test-memo-vs-fresh"
    session.forget(spark, "kmeans_model", "pq_books")

    def cells(cache_key):
        assigned, centers = similarity.kmeans_ivf_cells(
            emb, "vec_id", "embedding", n_cells=4, cache_key=cache_key)
        return (sorted((r["vec_id"], r["__cell"]) for r in assigned.collect()),
                sorted((r["cell_id"], r["center"]) for r in centers.collect()))

    fresh = cells(None)
    assert cells(key) == fresh
    assert cells(key) == fresh
    assert any(k[1] == "kmeans_model" for k in session._MEMO)

    books = similarity.pq_fit_codebooks(emb, "embedding", cache_key=key)
    again = similarity.pq_fit_codebooks(emb, "embedding", cache_key=key)
    assert again is books  # a hit
    assert np.array_equal(
        books, similarity.pq_fit_codebooks(emb, "embedding"))
    session.forget(spark, "kmeans_model", "pq_books")
    assert not [k for k in session._MEMO
                if k[1] in ("kmeans_model", "pq_books")]
