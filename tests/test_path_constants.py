"""Size-dispatched operators choose their path from the input, not from
a caller option.  Each cutover, guard and output-invariant tuning value
is a module constant read at call time (tests patch the constant to
force a branch); passing the old keyword is a ``TypeError`` raised by
the signature itself, before any Spark work."""

from __future__ import annotations

import sys

import pytest

from kafka_bigdata_jobs_spark.operators import bpe, dedup, similarity, stats

_EMB = (None, "id", "vec")
_SERIES = (None, "k", "day", "v")

# (function, positional args, deleted keyword, the constant it became)
DELETED = [
    (similarity.embedding_near_dup_pairs_auto, _EMB, "max_side_bytes",
     "MAX_SIDE_MATRIX_BYTES"),
    (similarity.embedding_near_dup_pairs_auto, _EMB, "max_replication",
     "MAX_REPLICATION"),
    (similarity.embedding_near_dup_pairs_auto, _EMB, "guard_min_rows",
     "GUARD_MIN_ROWS"),
    (similarity.embedding_near_dup_pairs_auto, _EMB, "on_blowup", None),
    (similarity.embedding_near_dup_pairs_hier, _EMB, "leaf_target",
     "LEAF_TARGET"),
    (similarity.embedding_near_dup_pairs_hier, _EMB, "fit_sample_rows",
     "FIT_SAMPLE_ROWS_MIN"),
    (similarity.embedding_near_dup_pairs_hier, _EMB, "max_replication",
     "MAX_REPLICATION"),
    (similarity.embedding_near_dup_pairs_hier, _EMB, "guard_min_rows",
     "GUARD_MIN_ROWS"),
    (similarity.embedding_near_dup_pairs_blocked, _EMB, "max_side_bytes",
     "MAX_SIDE_MATRIX_BYTES"),
    (similarity.embedding_near_dup_pairs_blocked, _EMB, "margin",
     "BLOCKED_MARGIN"),
    (stats.series_corr_pairs_auto, _SERIES, "exact_key_limit",
     "EXACT_PAIR_KEY_LIMIT"),
    (stats.series_corr_pairs_gram, _SERIES, "block_keys", "GRAM_BLOCK_KEYS"),
    (dedup.connected_components, (None,), "driver_edge_limit",
     "DRIVER_EDGE_LIMIT"),
    (bpe.bpe_learn, (None, "text"), "vocab_limit", "DRIVER_VOCAB_LIMIT"),
]


@pytest.mark.parametrize(
    "fn,args,keyword,constant", DELETED,
    ids=[f"{fn.__name__}-{kw}" for fn, _, kw, _ in DELETED])
def test_deleted_keyword_raises_type_error(fn, args, keyword, constant):
    with pytest.raises(TypeError, match=keyword):
        fn(*args, **{keyword: 1})
    if constant is not None:
        assert hasattr(sys.modules[fn.__module__], constant)
