"""BPE training: exact merge-for-merge parity with an independent
pure-Python reference (the verification a SQL oracle can't provide for
an iterative argmax), plus determinism and overlap semantics."""

from __future__ import annotations

import collections
import re

import duckdb

from kafka_bigdata_jobs_spark.operators.bpe import _merge_segs, bpe_learn
from kafka_bigdata_jobs_spark.schemas import load_table
from tests.conftest import SF_SMOKE


def _reference_bpe(word_counts: dict[str, int], n_merges: int, min_w: int = 2):
    """Independent reference: textbook BPE over a word-frequency dict."""
    segs = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(n_merges):
        weights: collections.Counter = collections.Counter()
        for w, n in word_counts.items():
            s = segs[w]
            for i in range(len(s) - 1):
                weights[(s[i], s[i + 1])] += n
        if not weights:
            break
        # same tie-break as the engine: weight DESC, then (left, right) ASC
        (left, right), wt = min(
            weights.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if wt < min_w:
            break
        merges.append((rank, left, right, wt))
        for w in segs:
            segs[w] = _ref_merge(segs[w], left, right)
    return merges


def _ref_merge(s, left, right):
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _corpus_word_counts(sf_dir: str) -> dict[str, int]:
    rows = duckdb.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    wc: collections.Counter = collections.Counter()
    for (text,) in rows:
        for w in re.split(r"[^a-z0-9]+", text.strip().lower()):
            if w:
                wc[w] += 1
    return dict(wc)


def test_merge_overlap_rule():
    # 'aaa' + (a,a): left-to-right non-overlap -> [aa, a], never [a, aa]
    assert _merge_segs(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert _merge_segs(["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]
    assert _merge_segs(["x", "y"], "a", "b") == ["x", "y"]
    assert _merge_segs(["a", "b", "a", "b"], "a", "b") == ["ab", "ab"]


def test_bpe_matches_pure_python_reference(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    engine = bpe_learn(docs, "text", n_merges=8)
    ref = _reference_bpe(_corpus_word_counts(SF_SMOKE), n_merges=8)
    assert engine == ref
    assert len(engine) > 0  # the fixture corpus must actually yield merges


def test_bpe_is_deterministic(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    assert bpe_learn(docs, "text", n_merges=4) == bpe_learn(
        docs, "text", n_merges=4
    )


def test_driver_and_distributed_paths_agree(spark, monkeypatch):
    """DRIVER_VOCAB_LIMIT=0 forces the per-merge distributed fallback; it
    must produce the identical merge table to the driver-side learner."""
    from kafka_bigdata_jobs_spark.operators import bpe

    calls = []
    real = bpe._bpe_learn_distributed
    monkeypatch.setattr(bpe, "_bpe_learn_distributed",
                        lambda *a: calls.append(1) or real(*a))
    docs = load_table(spark, SF_SMOKE, "documents")
    driver_side = bpe_learn(docs, "text", n_merges=8)
    assert not calls
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_LIMIT", 0)
    distributed = bpe_learn(docs, "text", n_merges=8)
    assert calls == [1]
    assert driver_side == distributed


def test_incremental_learner_matches_reference_at_depth():
    """The in-memory trainer's incremental pair maintenance (retract /
    re-add touched adjacencies + lazy-invalidation heap) vs the naive
    recount-everything reference, deep enough that merges consume each
    other many times over — the regime 8-merge suite runs never reach."""
    import random

    from kafka_bigdata_jobs_spark.operators.bpe import _learn_from_counts

    rng = random.Random(42)
    alphabet = "abcdef"
    wc: collections.Counter = collections.Counter()
    for _ in range(400):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 12)))
        wc[w] += rng.randint(1, 50)
    got = _learn_from_counts(sorted(wc.items()), n_merges=200, min_pair_weight=2)
    want = _reference_bpe(dict(wc), n_merges=200)
    assert got == want
    assert len(got) > 50  # deep enough to exercise merge-on-merge


def test_thousand_merges_without_thousand_jobs(spark):
    """Round-2 verdict item 4's acceptance: a 1k-merge train must not
    launch one Spark job per merge.  The driver path runs exactly two
    Spark actions (count + collect of the word-type relation) however
    large n_merges is."""
    docs = load_table(spark, SF_SMOKE, "documents")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    sc.setJobGroup("bpe-1k", "bpe 1k merges")
    merges = bpe_learn(docs, "text", n_merges=1000, min_pair_weight=1)
    jobs = len(tracker.getJobIdsForGroup("bpe-1k") or [])
    sc.setJobGroup(None, None)
    assert merges  # learned a real table (fixture corpus is small; early
    # stop on exhausted pairs is fine — the point is the job count)
    # count()+collect() expand to a handful of jobs under AQE; the
    # invariant is O(1) in n_merges, not an exact figure.
    assert jobs <= 10, f"driver-side path ran {jobs} Spark jobs for 1k merges"


def test_learned_merges_build_on_each_other(spark):
    """Later merges may consume earlier merge outputs — the property
    that distinguishes the training loop from first-merge statistics."""
    docs = load_table(spark, SF_SMOKE, "documents")
    merges = bpe_learn(docs, "text", n_merges=8)
    produced = {left + right for _, left, right, _ in merges}
    consumed = {s for _, left, right, _ in merges for s in (left, right)}
    # weights never increase with rank is NOT guaranteed by BPE, but
    # multi-char segments can only appear by consuming prior merges:
    multi = {s for s in consumed if len(s) > 1}
    assert multi <= produced


def test_tokenize_census_matches_reference(spark):
    """Application parity: engine per-doc token counts == tokenizing
    every document with the reference implementation."""
    from kafka_bigdata_jobs_spark.operators.bpe import bpe_tokenize_stats

    docs = load_table(spark, SF_SMOKE, "documents")
    merges = bpe_learn(docs, "text", n_merges=8)
    got = {
        r["doc_id"]: (r["n_chars"], r["n_words"], r["n_tokens"])
        for r in bpe_tokenize_stats(docs, "doc_id", "text", merges).collect()
    }
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    ordered = [(left, right) for _, left, right, _ in sorted(merges)]
    for doc_id, text in rows:
        words = [w for w in re.split(r"[^a-z0-9]+", text.strip().lower()) if w]
        toks = 0
        for w in words:
            segs = list(w)
            for left, right in ordered:
                segs = _ref_merge(segs, left, right)
            toks += len(segs)
        assert got[doc_id] == (sum(len(w) for w in words), len(words), toks)


def test_tokenize_compresses(spark):
    """With any non-empty merge table, token count must be strictly
    below character count (merges only ever shrink segmentations)."""
    from kafka_bigdata_jobs_spark.operators.bpe import bpe_tokenize_stats

    docs = load_table(spark, SF_SMOKE, "documents")
    merges = bpe_learn(docs, "text", n_merges=8)
    assert merges
    rows = bpe_tokenize_stats(docs, "doc_id", "text", merges).collect()
    assert all(r["n_tokens"] <= r["n_chars"] for r in rows)
    assert sum(r["n_tokens"] for r in rows) < sum(r["n_chars"] for r in rows)
