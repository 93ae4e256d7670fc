"""Streaming CDC apply: change stream → continuously-current snapshot.

Drains a file-source changelog with ``availableNow`` through
``CdcApplySink`` (one file per micro-batch) and checks the final
parquet snapshot equals the sequential replay — including a stale
redelivery (lower seq than the state's high-water mark for its key)
that must be ignored, and a replayed batch_id that must no-op.  The
crash tests build, by hand, each layout a crash can leave around the
A/B version symlink the state commits through.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_bigdata_jobs_spark.sinks import _next_version_dir
from kafka_bigdata_jobs_spark.streaming.runner import CdcApplySink

LOG_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("val", T.LongType()),
    ]
)

BATCH_1 = [(k, k, "U", "new", 10 * k) for k in range(1, 6)]  # seq 1..5
BATCH_2 = [
    (2, 6, "U", "upd", 99),     # update existing
    (3, 7, "D", None, None),    # tombstone
    (6, 8, "U", "new", 60),     # insert
    (1, 0, "U", "stale", -1),   # STALE: seq 0 < state high-water 1 → ignored
]

FINAL = {
    1: ("new", 10, 1),
    2: ("upd", 99, 6),
    4: ("new", 40, 4),
    5: ("new", 50, 5),
    6: ("new", 60, 8),
}


@pytest.fixture()
def changelog_dir(spark):
    d = tempfile.mkdtemp(prefix="cdc_stream_")
    for rows in (BATCH_1, BATCH_2):
        spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        time.sleep(1.1)  # distinct mod-times → deterministic batch order
    return d


def _read_state(spark, state_dir):
    return {
        r.k: (r.status, r.val, r["__seq"])
        for r in CdcApplySink.read_snapshot(spark, state_dir).collect()
    }


def test_stream_apply_matches_sequential_replay(spark, changelog_dir):
    state_dir = tempfile.mkdtemp(prefix="cdc_state_") + "/snap"
    ckpt = tempfile.mkdtemp(prefix="cdc_ckpt_")
    sink = CdcApplySink(state_dir=state_dir, keys=["k"])
    (
        spark.readStream.schema(LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changelog_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert _read_state(spark, state_dir) == FINAL


def test_replayed_batch_and_stale_row_are_noops(spark):
    state_dir = tempfile.mkdtemp(prefix="cdc_state2_") + "/snap"
    b1 = spark.createDataFrame(BATCH_1, LOG_SCHEMA)
    b2 = spark.createDataFrame(BATCH_2, LOG_SCHEMA)
    sink = CdcApplySink(state_dir=state_dir, keys=["k"])
    sink(b1, 0)
    sink(b2, 1)
    after = _read_state(spark, state_dir)
    assert after == FINAL
    # foreachBatch is at-least-once: the same batch_id must short-circuit.
    sink(b2, 1)
    assert _read_state(spark, state_dir) == after
    # And even with a FRESH batch_id, re-delivered rows are all stale
    # (seq <= high-water) — the per-key guard alone keeps state fixed.
    sink(b2.withColumn("seq", F.col("seq")), 2)
    assert _read_state(spark, state_dir) == after


def test_stale_update_after_delete_stays_deleted(spark):
    """ADVICE r3 (medium): a redelivered U older than a D must NOT
    resurrect the key — the tombstone retains the high-water mark."""
    state_dir = tempfile.mkdtemp(prefix="cdc_state3_") + "/snap"
    sink = CdcApplySink(state_dir=state_dir, keys=["k"])
    sink(spark.createDataFrame([(3, 2, "U", "orig", 30)], LOG_SCHEMA), 0)
    sink(spark.createDataFrame([(3, 7, "D", None, None)], LOG_SCHEMA), 1)
    assert _read_state(spark, state_dir) == {}
    # Redeliver the OLD update alone in a new batch (seq 2 < delete's 7).
    sink(spark.createDataFrame([(3, 2, "U", "orig", 30)], LOG_SCHEMA), 2)
    assert _read_state(spark, state_dir) == {}
    # A genuinely newer U (seq above the delete) re-creates the key.
    sink(spark.createDataFrame([(3, 9, "U", "back", 31)], LOG_SCHEMA), 3)
    assert _read_state(spark, state_dir) == {3: ("back", 31, 9)}


def _assert_committed(spark, state_dir):
    """FINAL is served through the version symlink, and the only
    siblings left are the link and the one version it points at."""
    assert _read_state(spark, state_dir) == FINAL
    assert os.path.islink(state_dir)
    siblings = sorted(os.listdir(os.path.dirname(state_dir)))
    assert siblings == ["snap", os.readlink(state_dir)]


def test_crash_before_flip_reapplies_batch(spark):
    """A crash after the idle version was fully written and marked, but
    before the link flipped: the live state is still batch 0's, so the
    redelivered batch 1 must apply (not be skipped as already applied)
    and overwrite the leftover's junk rows."""
    state_dir = tempfile.mkdtemp(prefix="cdc_state4_") + "/snap"
    sink = CdcApplySink(state_dir=state_dir, keys=["k"])
    sink(spark.createDataFrame(BATCH_1, LOG_SCHEMA), 0)
    leftover = _next_version_dir(state_dir)
    junk = spark.read.parquet(state_dir).withColumn("val", F.lit(-7)).withColumn(
        "__seq", F.lit(100).cast("long"))
    junk.write.mode("overwrite").parquet(leftover)
    pathlib.Path(leftover, "_last_batch").write_text("1")
    sink(spark.createDataFrame(BATCH_2, LOG_SCHEMA), 1)
    _assert_committed(spark, state_dir)


def test_crash_before_superseded_delete_is_overwritten(spark):
    """A crash after the flip, before the superseded version was
    deleted: a stale copy of batch 0's state sits at the next version
    name.  A replayed batch no-ops, and the next commit overwrites the
    stale copy instead of reading it."""
    root = tempfile.mkdtemp(prefix="cdc_state5_")
    state_dir = root + "/snap"
    sink = CdcApplySink(state_dir=state_dir, keys=["k"])
    b1 = spark.createDataFrame(BATCH_1, LOG_SCHEMA)
    b2 = spark.createDataFrame(BATCH_2, LOG_SCHEMA)
    sink(b1, 0)
    shutil.copytree(os.path.realpath(state_dir), root + "/stale_copy")
    sink(b2, 1)
    shutil.move(root + "/stale_copy", _next_version_dir(state_dir))
    sink(b2, 1)  # replay of the committed batch
    assert _read_state(spark, state_dir) == FINAL
    sink(b1, 2)  # every row at or below its key's high-water mark
    _assert_committed(spark, state_dir)


def test_plain_state_dir_migrates_on_next_commit(spark):
    """A plain state dir (the layout older releases wrote) becomes the
    version symlink on its next commit, keeping its rows and marker."""
    state_dir = tempfile.mkdtemp(prefix="cdc_state6_") + "/snap"
    sink = CdcApplySink(state_dir=state_dir, keys=["k"])
    sink(spark.createDataFrame(BATCH_1, LOG_SCHEMA), 0)
    plain = tempfile.mkdtemp(prefix="cdc_state6_plain_") + "/snap"
    shutil.copytree(os.path.realpath(state_dir), plain)
    sink = CdcApplySink(state_dir=plain, keys=["k"])
    sink(spark.createDataFrame(BATCH_1, LOG_SCHEMA), 0)  # replay: no-op
    assert not os.path.islink(plain)
    sink(spark.createDataFrame(BATCH_2, LOG_SCHEMA), 1)
    _assert_committed(spark, plain)


def test_orphaned_old_dir_raises_and_is_kept(spark):
    """A crash inside the older two-move swap leaves ``__old_*`` and no
    state dir.  Starting from empty would drop every key, so the sink
    raises naming the sibling and leaves it for a manual restore."""
    state_dir = tempfile.mkdtemp(prefix="cdc_state7_") + "/snap"
    sink = CdcApplySink(state_dir=state_dir, keys=["k"])
    sink(spark.createDataFrame(BATCH_1, LOG_SCHEMA), 0)
    old = state_dir + "__old_deadbeef"
    shutil.move(os.path.realpath(state_dir), old)
    if os.path.islink(state_dir):
        os.remove(state_dir)
    b2 = spark.createDataFrame(BATCH_2, LOG_SCHEMA)
    with pytest.raises(RuntimeError, match="__old_deadbeef"):
        sink(b2, 1)
    assert os.path.isdir(old) and not os.path.lexists(state_dir)
    shutil.move(old, state_dir)  # the documented manual restore
    sink(b2, 1)
    _assert_committed(spark, state_dir)
