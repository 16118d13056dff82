"""Versioned snapshots (version dirs + a ``_LATEST`` pointer):
upsert_parquet_sink's MERGE-into-table semantics across micro-batches,
within-batch dedup, and replay idempotence (the crash-recovery contract:
re-running any committed batch leaves the table unchanged); compaction;
and the one pointer format NotificationDim, the upsert sink and
compact_snapshot share."""

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.schemas import BATCH_NOTIFICATION_SCHEMA, Status
from hri_flink_pipeline_core_spark.streaming.pipeline import (
    NotificationDim,
    compact_snapshot,
    upsert_parquet_sink,
)


def _read_latest(spark, root):
    # the pointer names a version relative to the table root
    with open(os.path.join(root, "_LATEST")) as fh:
        return spark.read.parquet(os.path.join(root, fh.read().strip()))


def _notifications(spark, *ids, offset=0):
    rows = [
        Row(
            id=i, name=i, topic="ingest.t1.di.in", dataType="claims",
            status=Status.STARTED, startDate=None, endDate=None,
            expectedRecordCount=None, actualRecordCount=None,
            invalidRecordCount=None, invalidThreshold=5,
            failureMessage=None, metadata=None,
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, BATCH_NOTIFICATION_SCHEMA).withColumn(
        "offset", F.lit(offset).cast("long")
    )


def test_upsert_sink_merges_batches(spark, tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    sink = upsert_parquet_sink(root, ["k"], order_col="seq")

    b0 = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "b")], "k long, seq long, v string"
    )
    # batch 1 carries a within-batch duplicate for k=2: seq 2 must win
    b1 = spark.createDataFrame(
        [(2, 1, "stale"), (2, 2, "b2"), (3, 1, "c")], "k long, seq long, v string"
    )
    sink(b0, 0)
    sink(b1, 1)
    out = {r["k"]: (r["seq"], r["v"]) for r in _read_latest(spark, root).collect()}
    assert out == {1: (0, "a"), 2: (2, "b2"), 3: (1, "c")}


def test_upsert_sink_replay_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    sink = upsert_parquet_sink(root, ["k"])

    b0 = spark.createDataFrame([(1, "a")], "k long, v string")
    b1 = spark.createDataFrame([(1, "a1"), (2, "b")], "k long, v string")
    sink(b0, 0)
    sink(b1, 1)
    before = sorted(map(tuple, _read_latest(spark, root).collect()))
    sink(b1, 1)  # driver restart replays the last committed batch
    after = sorted(map(tuple, _read_latest(spark, root).collect()))
    assert before == after == [(1, "a1"), (2, "b")]


def test_compact_snapshot_preserves_data_and_reduces_files(spark, tmp_path):
    """compact_snapshot: many tiny files -> ceil(total/target) files,
    rows and values identical, pointer swapped to the compacted version,
    and a subsequent upsert continues from the compacted base."""
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    sink = upsert_parquet_sink(root, ["k"], order_col="seq")
    rows = [(k, 0, f"v{k}") for k in range(200)]
    df = spark.createDataFrame(rows, "k long, seq long, v string")
    # fragmented snapshot as a streaming sink would accrue it: 32 files
    before_dir = os.path.join(root, "v0")
    df.repartition(32).write.parquet(before_dir)
    with open(os.path.join(root, "_LATEST"), "w") as fh:
        fh.write(before_dir)
    n_before = len([f for f in os.listdir(before_dir) if f.endswith(".parquet")])
    assert n_before >= 16

    out_dir = compact_snapshot(spark, root, target_bytes=1 << 30)
    n_after = len([f for f in os.listdir(out_dir) if f.endswith(".parquet")])
    assert n_after == 1  # total << target -> single file

    got = {r["k"]: (r["seq"], r["v"]) for r in _read_latest(spark, root).collect()}
    assert got == {k: (s, v) for k, s, v in rows}

    # upserts keep working on the compacted snapshot
    sink(spark.createDataFrame([(5, 1, "new")], "k long, seq long, v string"), 1)
    got = {r["k"]: (r["seq"], r["v"]) for r in _read_latest(spark, root).collect()}
    assert got[5] == (1, "new") and len(got) == 200


def test_compact_snapshot_of_notification_dim(spark, tmp_path):
    """compact_snapshot reads the pointer NotificationDim writes: a name
    relative to the dim root, not to the process's working directory."""
    root = str(tmp_path / "dim")
    NotificationDim(root).merge(_notifications(spark, "b1", "b2"), 0)

    out_dir = compact_snapshot(spark, root, target_bytes=1 << 30)

    assert os.path.isabs(out_dir) and os.path.isdir(out_dir)
    assert sorted(r.id for r in _read_latest(spark, root).collect()) == ["b1", "b2"]
    assert sorted(r.id for r in NotificationDim(root).read(spark).collect()) == [
        "b1", "b2",
    ]


def test_upsert_table_survives_root_rename(spark, tmp_path):
    """The pointer is relative to the table root, so a moved table still
    reads and keeps taking upserts."""
    root, moved = str(tmp_path / "tbl"), str(tmp_path / "moved")
    os.makedirs(root)
    sink = upsert_parquet_sink(root, ["k"])
    sink(spark.createDataFrame([(1, "a")], "k long, v string"), 0)
    os.rename(root, moved)

    assert sorted(map(tuple, _read_latest(spark, moved).collect())) == [(1, "a")]
    upsert_parquet_sink(moved, ["k"])(
        spark.createDataFrame([(2, "b")], "k long, v string"), 1
    )
    assert sorted(map(tuple, _read_latest(spark, moved).collect())) == [
        (1, "a"), (2, "b"),
    ]


def test_notification_dim_replay_leaves_version_untouched(spark, tmp_path):
    """A restarted dim query replays its last committed micro-batch: the
    pointer already names that version, so the commit is skipped and the
    version directory keeps its files."""
    root = str(tmp_path / "dim")
    NotificationDim(root).merge(_notifications(spark, "b1"), 7)
    with open(os.path.join(root, "_LATEST")) as fh:
        version = os.path.join(root, fh.read().strip())
    files = {f: os.stat(os.path.join(version, f)).st_mtime_ns for f in os.listdir(version)}

    NotificationDim(root).merge(_notifications(spark, "b2", offset=1), 7)

    assert {
        f: os.stat(os.path.join(version, f)).st_mtime_ns for f in os.listdir(version)
    } == files
    assert [r.id for r in _read_latest(spark, root).collect()] == ["b1"]
