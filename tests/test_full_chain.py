"""Full-chain integration: the job graph ``cli.py`` starts, built by the
same ``start_job`` with file sources and parquet endpoints
(ValidationJobIntTest.scala happy-path parity) —

records ──validate──┬─ out (Kafka-shaped parquet)
                    ├─ invalid (Kafka-shaped parquet)
                    └─ counts parquet ──┐
notifications ──────────────────────────┴── tracker ── terminal notification

The terminal COMPLETED notification must carry the exact counts the
validator routed, and the notification-loopback sink shape must
round-trip it.
"""

import json
import os
import time

from pyspark.sql import Row
from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.schemas import (
    BATCH_NOTIFICATION_SCHEMA,
    HRI_RECORD_SCHEMA,
    Status,
)
from hri_flink_pipeline_core_spark.sinks import kafka as ksink
from hri_flink_pipeline_core_spark.sources import kafka as ksource
from hri_flink_pipeline_core_spark.sources.files import read_table_stream
from hri_flink_pipeline_core_spark.streaming.pipeline import (
    parquet_dir_sink,
    start_job,
)
from hri_flink_pipeline_core_spark.streaming.tracker_stream import (
    TRACKER_OUTPUT_SCHEMA,
)
from hri_flink_pipeline_core_spark.topics import derive_topics

TOPIC = "ingest.t1.di.in"


def hri_row(batch_id, value=b'{"ok":1}', offset=0):
    return Row(
        key=str(offset).encode(), value=value,
        headers=[Row(key="batchId", value=batch_id.encode())],
        topic=TOPIC, partition=0, offset=offset,
    )


def _wait_for(rows, queries, seconds):
    deadline = time.time() + seconds
    while not rows and time.time() < deadline:
        for q in queries:
            if q.exception() is not None:
                raise AssertionError(f"query {q.name or q.id} failed: {q.exception()}")
        time.sleep(0.5)


def test_full_chain_happy_path(spark, tmp_path):
    work = str(tmp_path)
    rec_dir = os.path.join(work, "rec")
    stage_dir = os.path.join(work, "stage")
    notif_dir = os.path.join(work, "notif")
    job_dir = os.path.join(work, "job")
    os.makedirs(rec_dir)
    topics = derive_topics(TOPIC)

    # batch-X: 5 records, 4 valid + 1 invalid, expectedRecordCount=5,
    # status sendCompleted -> must COMPLETE with actual=5 invalid=1
    records = [hri_row("batch-X", offset=i) for i in range(4)] + [
        hri_row("batch-X", value=b"broken", offset=4)
    ]
    notif = Row(
        id="batch-X", name="x", topic=TOPIC, dataType="claims",
        status=Status.SEND_COMPLETED, startDate=None, endDate=None,
        expectedRecordCount=5, actualRecordCount=None, invalidRecordCount=None,
        invalidThreshold=5, failureMessage=None, metadata=None,
    )
    spark.createDataFrame([notif], BATCH_NOTIFICATION_SCHEMA).withColumn(
        "offset", F.lit(0).cast("long")
    ).write.parquet(notif_dir)
    spark.createDataFrame(records, HRI_RECORD_SCHEMA).coalesce(1).write.parquet(
        stage_dir
    )
    notif_schema = spark.read.parquet(notif_dir).schema

    terminal_rows = []
    pipe = start_job(
        spark,
        topics,
        records_stream=read_table_stream(spark, rec_dir, HRI_RECORD_SCHEMA),
        notifications_stream=read_table_stream(spark, notif_dir, notif_schema),
        bulk_writer=lambda tid: parquet_dir_sink(os.path.join(work, tid)),
        terminal_sink=lambda df, _b: terminal_rows.extend(df.collect()),
        workdir=job_dir,
        batch_delay_ms=1500,
    )
    try:
        dim_q, validation_q, _tracker_q = pipe.queries
        # the dim holds the notification before any record arrives
        dim_q.processAllAvailable()
        for f in os.listdir(stage_dir):
            if f.endswith(".parquet"):
                os.rename(os.path.join(stage_dir, f), os.path.join(rec_dir, f))
        validation_q.processAllAvailable()
        _wait_for(terminal_rows, pipe.queries, 60)
    finally:
        pipe.stop()

    assert len(terminal_rows) == 1
    t = terminal_rows[0]
    assert t.batchId == "batch-X"
    assert t.status == Status.COMPLETED
    assert t.actualRecordCount == 5
    assert t.invalidRecordCount == 1
    assert t.failureMessage is None
    merged = json.loads(t.notification)
    assert merged["name"] == "x" and merged["dataType"] == "claims"

    # loopback sink shape round-trips through the notification parser
    terminal_df = spark.createDataFrame(terminal_rows, TRACKER_OUTPUT_SCHEMA)
    sunk = ksink.notification_sink(terminal_df, topics.notification_topic)
    row = sunk.collect()[0]
    assert bytes(row.key).decode() == "batch-X"
    parsed = ksource.parse_notifications(
        spark.createDataFrame(
            [Row(value=bytes(row.value), offset=1)], "value binary, offset long"
        )
    ).collect()
    # true loop closure: the re-parsed notification carries the terminal
    # status and counts, so a validator seeing it routes late records to
    # invalid (README.md:24 behavior)
    assert len(parsed) == 1
    assert parsed[0].id == "batch-X"
    assert parsed[0].status == Status.COMPLETED
    assert parsed[0].actualRecordCount == 5
    assert parsed[0].invalidRecordCount == 1

    # Kafka-shaped endpoint rows: *.out passes the source key, value and
    # batchId header through; *.invalid has a null key and a JSON value
    out = spark.read.parquet(os.path.join(work, "out")).collect()
    assert sorted(bytes(r.key) for r in out) == [b"0", b"1", b"2", b"3"]
    for r in out:
        assert bytes(r.value) == b'{"ok":1}'
        assert [(h.key, bytes(h.value)) for h in r.headers] == [
            ("batchId", b"batch-X")
        ]
        assert r.topic == topics.output_topic
    inv = spark.read.parquet(os.path.join(work, "invalid")).collect()
    assert len(inv) == 1 and inv[0].key is None
    assert inv[0].topic == topics.invalid_topic
    failure = json.loads(bytes(inv[0].value))
    assert failure["failure"].startswith("Invalid JSON")
    assert failure["batchId"] == "batch-X" and failure["offset"] == 4

    # the state a restarted deployment picks up again
    for path in (
        "checkpoints/notification_dim",
        "checkpoints/validation",
        "checkpoints/tracker",
        "notification_dim/_LATEST",
        "counts/batch=0",
    ):
        assert os.path.exists(os.path.join(job_dir, path)), path
