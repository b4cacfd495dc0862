"""Streaming rollup maintenance (streaming/mv.py): the drained stream of
change-feed files equals a batch recompute over the final snapshot,
per-file versions chain through the CAS manifest, crash-replay of a
micro-batch is a committed no-op (the batch_id watermark rides the
manifest), and a foreign writer on a maintained table raises."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from etl_scripts_spark.sinks.cdc import snapshot_changes
from etl_scripts_spark.sinks.commit import (
    latest_committed_version,
    try_publish_version,
    version_record,
)
from etl_scripts_spark.sinks.materialized import rollup_table
from etl_scripts_spark.streaming.mv import (
    apply_feed_batch,
    rollup_maintenance_available_now,
)
from tests.conftest import SF_SMALL

SCHEMA = "k bigint, grp string, x bigint"
FEED_SCHEMA = "k bigint, grp string, x bigint, _change_type string"


def _snap(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _snapshots(spark):
    s0 = _snap(spark, [])
    s1 = _snap(spark, [(1, "a", 5), (2, "b", 7)])
    s2 = _snap(spark, [(1, "a", 6), (2, "b", 7), (3, "a", 1)])  # update + insert
    s3 = _snap(spark, [(1, "c", 6), (3, "a", 1)])  # migrate a→c, delete 2
    return [s0, s1, s2, s3]


def _write_feed_files(spark, tmp, snaps):
    feed_dir = os.path.join(tmp, "feed")
    for i in range(1, len(snaps)):
        old = None if i == 1 else snaps[i - 1]
        feed = snapshot_changes(old, snaps[i], ["k"])
        feed.coalesce(1).write.parquet(os.path.join(feed_dir, f"f{i}"))
    # the file stream wants a flat glob of parquet files
    return os.path.join(feed_dir, "f*")


def test_drain_equals_recompute_and_versions_chain(spark, tmp_path):
    tmp = str(tmp_path)
    snaps = _snapshots(spark)
    glob = _write_feed_files(spark, tmp, snaps)
    root = os.path.join(tmp, "mv")
    out = rollup_maintenance_available_now(
        spark, glob, FEED_SCHEMA, root, ["grp"], ["x"],
        checkpoint_dir=os.path.join(tmp, "ckpt"),
    )
    assert _rows(out) == _rows(rollup_table(snaps[-1], ["grp"], ["x"]))
    # one committed version per micro-batch (maxFilesPerTrigger=1 → one
    # per feed file), each carrying its batch watermark
    v = latest_committed_version(root)
    assert v == 3
    bids = [version_record(root, i)["batch_id"] for i in range(1, v + 1)]
    assert bids == sorted(bids) and len(set(bids)) == v


def test_crash_replay_is_noop(spark, tmp_path):
    tmp = str(tmp_path)
    snaps = _snapshots(spark)
    root = os.path.join(tmp, "mv")
    feed1 = snapshot_changes(None, snaps[1], ["k"])
    assert apply_feed_batch(feed1, 0, root, ["grp"], ["x"]) is True
    v_after = latest_committed_version(root)
    rows_after = _rows(rollup_maintained(spark, root))
    # Structured Streaming re-delivers the batch after a crash: same id
    assert apply_feed_batch(feed1, 0, root, ["grp"], ["x"]) is False
    assert latest_committed_version(root) == v_after
    assert _rows(rollup_maintained(spark, root)) == rows_after
    # the NEXT batch still applies
    feed2 = snapshot_changes(snaps[1], snaps[2], ["k"])
    assert apply_feed_batch(feed2, 1, root, ["grp"], ["x"]) is True
    assert _rows(rollup_maintained(spark, root)) == _rows(
        rollup_table(snaps[2], ["grp"], ["x"])
    )


def rollup_maintained(spark, root):
    from etl_scripts_spark.sinks.commit import read_version

    return read_version(spark, root)


def test_foreign_writer_raises(spark, tmp_path):
    tmp = str(tmp_path)
    snaps = _snapshots(spark)
    root = os.path.join(tmp, "mv")
    feed1 = snapshot_changes(None, snaps[1], ["k"])
    apply_feed_batch(feed1, 0, root, ["grp"], ["x"])
    # a foreign writer mid-claim on the NEXT version: its manifest exists
    # (the CAS arbiter sees it) but is not yet readable, so the stream
    # resolves latest=1, stages v2, and loses the publish
    with open(os.path.join(root, "_versions", "v2.json"), "w"):
        pass
    feed2 = snapshot_changes(snaps[1], snaps[2], ["k"])
    with pytest.raises(RuntimeError, match="lost CAS"):
        apply_feed_batch(feed2, 1, root, ["grp"], ["x"])


def test_extra_keys_cannot_shadow_manifest(tmp_path):
    with pytest.raises(ValueError, match="shadow"):
        try_publish_version(str(tmp_path), 1, "d", extra={"data": "evil"})


def test_extra_cannot_forge_absent_base(tmp_path):
    # base=None leaves 'base' off the record — extra must STILL not inject it
    with pytest.raises(ValueError, match="shadow"):
        try_publish_version(str(tmp_path), 1, "d", base=None, extra={"base": 0})


# --- r13 adversarial-stress axis: end-to-end crash-replay through a REAL
# checkpointed stream.  test_crash_replay_is_noop above pins the batch-id
# watermark at the function level; these two pin the full restart paths a
# production drain actually takes — (a) a drain killed between files and
# resumed on the SAME checkpoint, (b) the exact window Structured
# Streaming's replay semantics exist for: a crash AFTER the CAS publish
# but BEFORE the checkpoint records the batch, so the restart re-delivers
# a batch whose effect is already committed. ------------------------------


def test_resume_after_mid_drain_crash(spark, tmp_path):
    """Drain stops after the first two feed files (the 'crash'); the
    third file lands; a NEW drain call on the SAME checkpoint + root
    must apply only the missing file — batch ids continue from the
    checkpoint, versions chain one per file, final equals the batch law
    over the last snapshot."""
    tmp = str(tmp_path)
    snaps = _snapshots(spark)
    feed_dir = os.path.join(tmp, "feed")
    for i in (1, 2):
        snapshot_changes(None if i == 1 else snaps[i - 1], snaps[i], ["k"]) \
            .coalesce(1).write.parquet(os.path.join(feed_dir, f"f{i}"))
    glob = os.path.join(feed_dir, "f*")
    root, ckpt = os.path.join(tmp, "mv"), os.path.join(tmp, "ckpt")
    out1 = rollup_maintenance_available_now(
        spark, glob, FEED_SCHEMA, root, ["grp"], ["x"], checkpoint_dir=ckpt
    )
    assert _rows(out1) == _rows(rollup_table(snaps[2], ["grp"], ["x"]))
    # the crash window: the producer lands the next feed file while the
    # maintenance process is down
    snapshot_changes(snaps[2], snaps[3], ["k"]).coalesce(1).write.parquet(
        os.path.join(feed_dir, "f3")
    )
    out2 = rollup_maintenance_available_now(
        spark, glob, FEED_SCHEMA, root, ["grp"], ["x"], checkpoint_dir=ckpt
    )
    assert _rows(out2) == _rows(rollup_table(snaps[3], ["grp"], ["x"]))
    v = latest_committed_version(root)
    assert v == 3  # one committed version per feed file, no double-apply
    bids = [version_record(root, i)["batch_id"] for i in range(1, v + 1)]
    assert bids == sorted(bids) and len(set(bids)) == v


def test_crash_between_publish_and_checkpoint_replays_as_noop(spark, tmp_path):
    """Inject the crash into the exact exactly-once window: the
    foreachBatch body dies immediately AFTER apply_feed_batch has
    CAS-published the second batch, so the checkpoint never records it.
    The restarted stream re-delivers that batch with the SAME id; the
    manifest watermark must turn the replay into a committed no-op
    (applied=False), and the drain completes with one version per feed
    file and the batch-law table."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    tmp = str(tmp_path)
    snaps = _snapshots(spark)
    glob = _write_feed_files(spark, tmp, snaps)  # f1, f2, f3
    root, ckpt = os.path.join(tmp, "mv"), os.path.join(tmp, "ckpt")
    calls: list[tuple[int, bool]] = []
    crash_armed = [True]

    def body(batch, batch_id):
        applied = apply_feed_batch(batch, batch_id, root, ["grp"], ["x"])
        calls.append((batch_id, applied))
        if batch_id == 1 and crash_armed[0]:
            crash_armed[0] = False  # crash exactly once, after the publish
            raise RuntimeError("injected crash after CAS publish")

    def drain():
        q = (
            spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        drain()  # dies mid-stream with batch 1 published but uncheckpointed
    assert (1, True) in calls  # the publish really happened before the crash
    drain()  # restart on the same checkpoint
    assert (1, False) in calls, "replayed batch was not detected as applied"
    assert _rows(rollup_maintained(spark, root)) == _rows(
        rollup_table(snaps[3], ["grp"], ["x"])
    )
    v = latest_committed_version(root)
    assert v == 3  # the replayed batch minted no extra version
    bids = [version_record(root, i)["batch_id"] for i in range(1, v + 1)]
    assert bids == sorted(bids) and len(set(bids)) == v


def test_scratch_backed_result_survives_a_second_call(spark):
    """The scratch-root queries wipe their state per call; a result held
    across a later call must not dangle on deleted files (both return
    eagerly localCheckpointed frames).  q_stream_mv_drain registered in
    r10 but the wipe-survival property is pinned here with its scratch
    siblings."""
    mv = entrymod.queries()["q_stream_mv_drain"]
    first = mv(spark, SF_SMALL)
    second = mv(spark, SF_SMALL)  # wipes the first call's scratch root
    rows = sorted(tuple(r) for r in first.collect())
    assert rows == sorted(tuple(r) for r in second.collect())
    assert len(rows) > 0
