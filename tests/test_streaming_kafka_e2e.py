"""Streaming e2e with Kafka-sink parity (#10/#11/#13) against an
embedded-broker stand-in.

ValidationJobIntTest.scala scenario shape (valid+invalid split + terminal
notification), end-to-end in streaming mode: file-streamed records and
notifications -> dim compaction -> validation fan-out where every sink is
the real Kafka projection (sinks/kafka.py) feeding the real transactional
writer (sinks/kafka_tx.py) -> streaming tracker -> terminal notification
to the loopback topic. The broker stand-in records exactly what a real
transactional producer would have committed, so the assertions cover the
serializer contracts (pass-through bytes + headers on *.out, JSON
InvalidRecord + batchId header + null key on *.invalid, BatchNotification
JSON on *.notification) AND the exactly-once discipline (every batch one
begin/commit, no aborts, no duplicates).
"""

import json
import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.operators.validation import json_validator
from hri_flink_pipeline_core_spark.schemas import (
    BATCH_NOTIFICATION_SCHEMA,
    HRI_RECORD_SCHEMA,
    Status,
)
from hri_flink_pipeline_core_spark.sinks import kafka as ksink
from hri_flink_pipeline_core_spark.sinks.kafka_tx import KafkaTransactionalWriter
from hri_flink_pipeline_core_spark.sources.files import read_table_stream
from hri_flink_pipeline_core_spark.streaming.pipeline import (
    ValidationPipeline,
    parquet_dir_sink,
)
from hri_flink_pipeline_core_spark.streaming.tracker_stream import (
    streaming_tracker,
    tag_counts,
    tag_notifications,
)
from hri_flink_pipeline_core_spark.topics import derive_topics

TOPIC = "ingest.t1.di.in"


class Broker:
    """In-memory broker stand-in: topics fed by FakeTxProducer commits."""

    def __init__(self):
        self.topics: dict[str, list] = {}
        self.events: list[str] = []

    def producer_factory(self, conf):
        return FakeTxProducer(self, conf)


class FakeTxProducer:
    def __init__(self, broker: Broker, conf):
        self.broker = broker
        self.conf = conf
        self._pending = []

    def init_transactions(self):
        self.broker.events.append("init")

    def begin_transaction(self):
        self.broker.events.append("begin")
        self._pending = []

    def send(self, topic, key, value, headers=None):
        self._pending.append((topic, key, value, headers))

    def commit_transaction(self):
        self.broker.events.append("commit")
        for topic, key, value, headers in self._pending:
            self.broker.topics.setdefault(topic, []).append((key, value, headers))
        self._pending = []

    def abort_transaction(self):
        self.broker.events.append("abort")
        self._pending = []


def kafka_tx_sink(broker, shape_fn, topic, tid, tmp):
    """BatchSink: shape the micro-batch with the real serializer
    projection, then write it through the transactional producer."""
    writer = KafkaTransactionalWriter(
        "fake:9093", tid,
        producer_factory=broker.producer_factory,
        commit_log=os.path.join(tmp, f"txlog-{tid}"),
    )

    def sink(df, batch_id):
        writer(shape_fn(df, topic), batch_id)

    return sink


def hri_row(batch_id, value=b'{"ok":1}', offset=0):
    return Row(
        key=str(offset).encode(), value=value,
        headers=[
            Row(key="batchId", value=batch_id.encode()),
            Row(key="passThru", value="旁路".encode()),
        ],
        topic=TOPIC, partition=0, offset=offset,
    )


@pytest.fixture
def scenario_dirs(spark, tmp_path):
    work = str(tmp_path)
    rec_dir = os.path.join(work, "rec")
    notif_dir = os.path.join(work, "notif")
    # batch-A: 3 valid JSON + 1 broken, expected=4, threshold=5,
    # sendCompleted -> terminal COMPLETED with actual=4 invalid=1
    records = [hri_row("batch-A", offset=i) for i in range(3)] + [
        hri_row("batch-A", value=b"not json", offset=3)
    ]
    notif = Row(
        id="batch-A", name="a", topic=TOPIC, dataType="claims",
        status=Status.SEND_COMPLETED, startDate=None, endDate=None,
        expectedRecordCount=4, actualRecordCount=None, invalidRecordCount=None,
        invalidThreshold=5, failureMessage=None, metadata=None,
    )
    spark.createDataFrame(records, HRI_RECORD_SCHEMA).write.parquet(rec_dir)
    spark.createDataFrame([notif], BATCH_NOTIFICATION_SCHEMA).withColumn(
        "offset", F.lit(0).cast("long")
    ).write.parquet(notif_dir)
    return work, rec_dir, notif_dir


def test_streaming_valid_invalid_split_to_kafka_with_terminal(
    spark, scenario_dirs
):
    work, rec_dir, notif_dir = scenario_dirs
    topics = derive_topics(TOPIC)
    broker = Broker()
    counts_out = os.path.join(work, "counts")

    notif_schema = spark.read.parquet(notif_dir).schema
    pipe = ValidationPipeline(
        spark,
        validator=json_validator(),
        records_stream=read_table_stream(spark, rec_dir, HRI_RECORD_SCHEMA),
        notifications_stream=read_table_stream(spark, notif_dir, notif_schema),
        valid_sink=kafka_tx_sink(
            broker, ksink.hri_record_sink, topics.output_topic, "tx-valid", work
        ),
        invalid_sink=kafka_tx_sink(
            broker, ksink.invalid_record_sink, topics.invalid_topic, "tx-invalid", work
        ),
        counts_sink=parquet_dir_sink(counts_out),
        workdir=os.path.join(work, "pipe"),
    )
    try:
        dim = pipe.start_notification_dim(trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)
        pipe.start_validation(dim, trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)
    finally:
        pipe.stop()

    # --- #10: *.out pass-through parity -------------------------------
    out = broker.topics[topics.output_topic]
    assert len(out) == 3
    keys = sorted(k for k, _, _ in out)
    assert keys == [b"0", b"1", b"2"]
    assert all(v == b'{"ok":1}' for _, v, _ in out)
    for _, _, headers in out:
        hmap = dict(headers)
        assert hmap["batchId"] == b"batch-A"
        assert hmap["passThru"] == "旁路".encode()  # UTF-8 preserved

    # --- #11: *.invalid InvalidRecord parity --------------------------
    inv = broker.topics[topics.invalid_topic]
    assert len(inv) == 1
    key, value, headers = inv[0]
    assert key is None  # null key (InvalidRecordSerializer.scala:25-42)
    payload = json.loads(value.decode())
    assert payload["batchId"] == "batch-A"
    assert payload["topic"] == TOPIC
    assert payload["partition"] == 0 and payload["offset"] == 3
    assert "Invalid JSON" in payload["failure"]
    assert dict(headers) == {"batchId": b"batch-A"}

    # --- exactly-once discipline: one commit per non-skipped batch ----
    assert broker.events.count("abort") == 0
    assert broker.events.count("begin") == broker.events.count("commit") >= 2

    # --- tracker over the emitted counts -> terminal notification ----
    counts_rows = []
    for d in os.listdir(counts_out):
        counts_rows += spark.read.parquet(os.path.join(counts_out, d)).collect()
    assert len(counts_rows) == 4

    counts_stream_dir = os.path.join(work, "counts_flat")
    spark.createDataFrame(counts_rows).write.parquet(counts_stream_dir)
    counts_df = spark.read.parquet(counts_stream_dir)
    notifs_df = spark.read.parquet(notif_dir)
    tagged_dir = os.path.join(work, "tagged")
    tag_counts(counts_df, seq_col=None).unionByName(
        tag_notifications(notifs_df).withColumn("seq", F.col("seq") - 1000)
    ).write.parquet(tagged_dir)
    tagged_schema = spark.read.parquet(tagged_dir).schema

    terminal_sink = kafka_tx_sink(
        broker, ksink.notification_sink, topics.notification_topic, "tx-notif", work
    )
    # COMPLETED is emitted by the processing-time completion timer, so the
    # query must keep triggering past the timeout (availableNow would stop
    # before the timer fires) — the reference's batchCompletionDelay idiom.
    q = (
        streaming_tracker(
            read_table_stream(spark, tagged_dir, tagged_schema), timeout_ms=2_000
        )
        .writeStream.foreachBatch(terminal_sink)
        .option("checkpointLocation", os.path.join(work, "ckpt-tracker"))
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    import time as _time

    try:
        deadline = _time.time() + 60
        while (
            not broker.topics.get(topics.notification_topic)
            and _time.time() < deadline
        ):
            _time.sleep(0.5)
    finally:
        q.stop()

    # --- #13: notification loopback parity ----------------------------
    loop = broker.topics.get(topics.notification_topic, [])
    assert len(loop) == 1
    key, value, _ = loop[0]
    assert key == b"batch-A"  # keyed by batch id (ordered per batch)
    terminal = json.loads(value.decode())
    assert terminal["status"] == Status.COMPLETED
    assert terminal["actualRecordCount"] == 4
    assert terminal["invalidRecordCount"] == 1


def test_streaming_threshold_fail_to_kafka(spark, tmp_path):
    """Threshold-fail scenario (ValidationJobIntTest parity): 3 invalid
    records with invalidThreshold=3 -> terminal FAILED notification on
    the loopback topic, with the reference's exact failure message."""
    work = str(tmp_path)
    topics = derive_topics(TOPIC)
    broker = Broker()

    counts = spark.createDataFrame(
        [Row(batchId="batch-F", isValid=False) for _ in range(3)],
        "batchId string, isValid boolean",
    )
    notif = spark.createDataFrame(
        [
            Row(
                id="batch-F", name="f", topic=TOPIC, dataType="claims",
                status=Status.STARTED, startDate=None, endDate=None,
                expectedRecordCount=10, actualRecordCount=None,
                invalidRecordCount=None, invalidThreshold=3,
                failureMessage=None, metadata=None,
            )
        ],
        BATCH_NOTIFICATION_SCHEMA,
    ).withColumn("offset", F.lit(0).cast("long"))

    tagged_dir = os.path.join(work, "tagged")
    tag_notifications(notif).unionByName(
        tag_counts(counts).withColumn("seq", F.col("seq") + 1000)
    ).write.parquet(tagged_dir)
    tagged_schema = spark.read.parquet(tagged_dir).schema

    q = (
        streaming_tracker(
            read_table_stream(spark, tagged_dir, tagged_schema), timeout_ms=300_000
        )
        .writeStream.foreachBatch(
            kafka_tx_sink(
                broker, ksink.notification_sink, topics.notification_topic,
                "tx-notif-f", work,
            )
        )
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    loop = broker.topics[topics.notification_topic]
    assert len(loop) == 1
    terminal = json.loads(loop[0][1].decode())
    assert terminal["status"] == Status.FAILED
    assert "invalidThreshold: 3" in terminal["failureMessage"]
    assert broker.events.count("abort") == 0


def test_streaming_restart_no_duplicates_in_broker(spark, tmp_path):
    """Exactly-once across a query restart: two record files consumed one
    per micro-batch through the transactional writer; the query is
    stopped after the run, more data arrives, and a NEW writer instance
    (fresh driver) resumes from the same checkpoint + commit log. Every
    record must appear in the broker exactly once — the commit log skips
    replayed epochs, checkpointed offsets skip consumed files, and no
    transaction is ever aborted mid-sequence."""
    import time as _time

    work = str(tmp_path)
    rec_dir = os.path.join(work, "rec")
    topics = derive_topics(TOPIC)
    broker = Broker()
    ckpt = os.path.join(work, "ckpt")
    txlog = os.path.join(work, "txlog")

    notif = Row(
        id="batch-R", name="r", topic=TOPIC, dataType="claims",
        status=Status.STARTED, startDate=None, endDate=None,
        expectedRecordCount=100, actualRecordCount=None,
        invalidRecordCount=None, invalidThreshold=50,
        failureMessage=None, metadata=None,
    )
    notif_df = spark.createDataFrame([notif], BATCH_NOTIFICATION_SCHEMA).withColumn(
        "offset", F.lit(0).cast("long")
    )

    os.makedirs(rec_dir)
    spark.createDataFrame(
        [hri_row("batch-R", offset=i) for i in range(3)], HRI_RECORD_SCHEMA
    ).write.mode("append").parquet(rec_dir)

    def run_once():
        # fresh writer instance per run = fresh driver process semantics;
        # the on-disk commit log is the shared truth
        writer = KafkaTransactionalWriter(
            "fake:9093", "tx-restart",
            producer_factory=broker.producer_factory, commit_log=txlog,
        )

        def sink(batch_df, batch_id):
            out = validate_records(batch_df, notif_df).valid
            writer(ksink.hri_record_sink(out, topics.output_topic), batch_id)

        stream = read_table_stream(
            spark, rec_dir, HRI_RECORD_SCHEMA, max_files_per_trigger=1
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    from hri_flink_pipeline_core_spark.operators.validation import validate_records

    run_once()
    first = list(broker.topics.get(topics.output_topic, []))
    assert len(first) == 3

    # more records arrive; restart (new writer, same checkpoint/commit log)
    spark.createDataFrame(
        [hri_row("batch-R", offset=i) for i in range(3, 5)], HRI_RECORD_SCHEMA
    ).write.mode("append").parquet(rec_dir)
    run_once()

    out = broker.topics[topics.output_topic]
    keys = sorted(k for k, _, _ in out)
    assert keys == [b"0", b"1", b"2", b"3", b"4"], keys  # exactly once each
    assert broker.events.count("abort") == 0


def test_streaming_restart_partitioned_writer_no_duplicates(spark, tmp_path):
    """The same exactly-once-across-restart scenario through the
    EXECUTOR-PARALLEL writer (KafkaPartitionedTransactionalWriter): the
    shaped micro-batch is produced from foreachPartition inside Python
    workers (file-backed fake broker — workers are separate processes),
    one transactional producer + epoch log per partition. After a stop,
    new data, and a fresh-writer resume from the same checkpoint and
    commit-log dir, every record must sit in the broker exactly once."""
    import time as _time

    from hri_flink_pipeline_core_spark.operators.validation import validate_records
    from hri_flink_pipeline_core_spark.sinks.kafka_tx import (
        KafkaPartitionedTransactionalWriter,
    )
    from tests.test_kafka_tx import _file_fake_factory

    work = str(tmp_path)
    rec_dir = os.path.join(work, "rec")
    topics = derive_topics(TOPIC)
    ckpt = os.path.join(work, "ckpt")
    broker_file = os.path.join(work, "broker.log")

    notif = Row(
        id="batch-P", name="p", topic=TOPIC, dataType="claims",
        status=Status.STARTED, startDate=None, endDate=None,
        expectedRecordCount=100, actualRecordCount=None,
        invalidRecordCount=None, invalidThreshold=50,
        failureMessage=None, metadata=None,
    )
    notif_df = spark.createDataFrame([notif], BATCH_NOTIFICATION_SCHEMA).withColumn(
        "offset", F.lit(0).cast("long")
    )

    os.makedirs(rec_dir)
    spark.createDataFrame(
        [hri_row("batch-P", offset=i) for i in range(4)], HRI_RECORD_SCHEMA
    ).write.mode("append").parquet(rec_dir)

    def run_once():
        writer = KafkaPartitionedTransactionalWriter(
            "fake:9093", "ptx-stream",
            producer_factory=_file_fake_factory(broker_file),
            commit_log_dir=os.path.join(work, "txlogs"),
        )

        def sink(batch_df, batch_id):
            out = validate_records(batch_df, notif_df).valid
            writer(ksink.hri_record_sink(out, topics.output_topic), batch_id)

        stream = read_table_stream(
            spark, rec_dir, HRI_RECORD_SCHEMA, max_files_per_trigger=1
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    with open(broker_file) as fh:
        assert len([l for l in fh.read().splitlines() if l]) == 4

    spark.createDataFrame(
        [hri_row("batch-P", offset=i) for i in range(4, 6)], HRI_RECORD_SCHEMA
    ).write.mode("append").parquet(rec_dir)
    run_once()  # fresh writer, same checkpoint + per-partition logs

    with open(broker_file) as fh:
        lines = [l for l in fh.read().splitlines() if l]
    keys = sorted(l.split("\t")[2] for l in lines)
    assert keys == ["0", "1", "2", "3", "4", "5"], keys  # exactly once each
