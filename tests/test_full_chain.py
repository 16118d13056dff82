"""Full-chain integration: the complete reference job graph in one run
(ValidationJobIntTest.scala happy-path parity) —

records ──validate──┬─ valid parquet
                    ├─ invalid parquet
                    └─ counts parquet ──┐
notifications ──────────────────────────┴── tracker ── terminal notification

The terminal COMPLETED notification must carry the exact counts the
validator routed, and the notification-loopback sink shape must
round-trip it.
"""

import json
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.operators.validation import json_validator
from hri_flink_pipeline_core_spark.schemas import (
    BATCH_NOTIFICATION_SCHEMA,
    COUNT_EVENT_SCHEMA,
    HRI_RECORD_SCHEMA,
    Status,
)
from hri_flink_pipeline_core_spark.sinks import kafka as ksink
from hri_flink_pipeline_core_spark.sources import kafka as ksource
from hri_flink_pipeline_core_spark.sources.files import read_table_stream
from hri_flink_pipeline_core_spark.streaming.pipeline import (
    ValidationPipeline,
    parquet_dir_sink,
    read_parquet_dir_stream,
)

TOPIC = "ingest.t1.di.in"


def hri_row(batch_id, value=b'{"ok":1}', offset=0):
    return Row(
        key=str(offset).encode(), value=value,
        headers=[Row(key="batchId", value=batch_id.encode())],
        topic=TOPIC, partition=0, offset=offset,
    )


def test_full_chain_happy_path(spark, tmp_path):
    work = str(tmp_path)
    rec_dir = os.path.join(work, "rec")
    notif_dir = os.path.join(work, "notif")
    counts_dir = os.path.join(work, "counts")
    valid_dir = os.path.join(work, "valid")
    invalid_dir = os.path.join(work, "invalid")

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
    spark.createDataFrame(records, HRI_RECORD_SCHEMA).write.parquet(rec_dir)
    spark.createDataFrame([notif], BATCH_NOTIFICATION_SCHEMA).withColumn(
        "offset", F.lit(0).cast("long")
    ).write.parquet(notif_dir)

    notif_schema = spark.read.parquet(notif_dir).schema

    # stage 1+2: dim compaction + validation fan-out
    pipe = ValidationPipeline(
        spark,
        validator=json_validator(),
        records_stream=read_table_stream(spark, rec_dir, HRI_RECORD_SCHEMA),
        notifications_stream=read_table_stream(spark, notif_dir, notif_schema),
        valid_sink=parquet_dir_sink(valid_dir),
        invalid_sink=parquet_dir_sink(invalid_dir),
        counts_sink=parquet_dir_sink(counts_dir),
        workdir=os.path.join(work, "pipe"),
        batch_completion_delay_ms=1500,
    )
    terminal_rows = []
    try:
        dim = pipe.start_notification_dim(trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)

        # stage 3: tracker over the counts directory + notification stream.
        # It starts before stage 2 writes any counts, as in cli.py.
        pipe.notification_out_sink = lambda df, _b: terminal_rows.extend(df.collect())
        counts_stream = read_parquet_dir_stream(spark, counts_dir, COUNT_EVENT_SCHEMA)
        notif_stream = read_table_stream(spark, notif_dir, notif_schema)
        pipe.start_tracker(
            counts_stream, notif_stream, trigger={"processingTime": "300 milliseconds"}
        )
        pipe.start_validation(dim, trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)
        import time

        deadline = time.time() + 60
        while not terminal_rows and time.time() < deadline:
            time.sleep(0.5)
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
    from hri_flink_pipeline_core_spark.streaming.tracker_stream import (
        TRACKER_OUTPUT_SCHEMA,
    )

    terminal_df = spark.createDataFrame(terminal_rows, TRACKER_OUTPUT_SCHEMA)
    sunk = ksink.notification_sink(terminal_df, "ingest.t1.di.notification")
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

    # sinks on disk: 4 valid, 1 invalid
    assert spark.read.parquet(valid_dir + "/batch=0").count() == 4
    inv = spark.read.parquet(invalid_dir + "/batch=0").collect()
    assert len(inv) == 1 and inv[0].failure.startswith("Invalid JSON")
