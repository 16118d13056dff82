"""The production job graph of ``cli.py --exactly-once --mgmt-url``, with
only its external endpoints replaced:

- Kafka sources -> parquet file streams of Kafka-shaped rows (records
  with the HriRecord columns; notifications parsed by
  ``sources.kafka.parse_notifications``);
- the broker behind ``KafkaPartitionedTransactionalWriter`` -> the
  stand-in producer factory (standin.py);
- the Management API -> the local stub (stub.py) over urllib.

Also here: the query-progress listener every round waits on, and the
publisher that moves generated files into the watched directories.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from hri_flink_pipeline_core_spark.operators.validation import json_validator
from hri_flink_pipeline_core_spark.schemas import COUNT_EVENT_SCHEMA, HRI_RECORD_SCHEMA
from hri_flink_pipeline_core_spark.sinks import kafka as ksink
from hri_flink_pipeline_core_spark.sinks.kafka_tx import KafkaPartitionedTransactionalWriter
from hri_flink_pipeline_core_spark.sinks.mgmt_api import MgmtApiSink, MgmtClient
from hri_flink_pipeline_core_spark.sources.files import read_table_stream
from hri_flink_pipeline_core_spark.sources.kafka import parse_notifications
from hri_flink_pipeline_core_spark.streaming.pipeline import ValidationPipeline
from hri_flink_pipeline_core_spark.topics import derive_topics

from pipebench.plan import Plan, notification_json
from pipebench.standin import LEDGER_KEY, standin_producer

# Kafka source row shape of the notification topic
NOTIFICATION_ROW_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)
COUNTS_ROW_SCHEMA = T.StructType(
    COUNT_EVENT_SCHEMA.fields + [T.StructField("batch", T.LongType(), True)]
)
_HEADERS = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
RECORD_ARROW = pa.schema(
    [("key", pa.binary()), ("value", pa.binary()), ("headers", _HEADERS),
     ("topic", pa.string()), ("partition", pa.int32()), ("offset", pa.int64())]
)
NOTIFICATION_ARROW = pa.schema(
    [("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
     ("partition", pa.int32()), ("offset", pa.int64()),
     ("timestamp", pa.timestamp("us", tz="UTC"))]
)
N_PARTITIONS = 4  # source topic partitions the records are spread over
ROLES = ("dim", "validation", "tracker")


def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Progress(StreamingQueryListener):
    """Collects every StreamingQueryProgress (``recentProgress`` keeps only
    the last 100) and answers the round's "has query X caught up" waits.
    Events are kept per query id; ``watch`` names the current round's
    queries by role."""

    def __init__(self):
        self.cond = threading.Condition()
        self.ids: dict[str, str] = {}  # role -> query id
        self.by_id: dict[str, list] = {}

    def watch(self, roles: dict[str, str]) -> None:
        with self.cond:
            self.ids = {role: qid for qid, role in roles.items()}

    def events(self, role: str) -> list:
        return self.by_id.get(self.ids.get(role), [])

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        e = {
            "batch": p.batchId,
            "ts": _ts(p.timestamp),
            "done_ns": time.monotonic_ns(),
            "rows": int(p.numInputRows),
            "dur": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_update_ms": sum(o.allUpdatesTimeMs for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
        }
        with self.cond:
            self.by_id.setdefault(str(p.id), []).append(e)
            self.cond.notify_all()

    # -- waits (call with ``cond`` held, e.g. inside ``wait``) ------------
    def rows(self, role: str) -> int:
        return sum(e["rows"] for e in self.events(role))

    def wait(self, pred, timeout: float) -> bool:
        with self.cond:
            return self.cond.wait_for(pred, timeout)


class SpanLog:
    """Spans of the wrapped sink callables (traced runs)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.spans: list[tuple] = []  # (name, batch_id, start_ns, end_ns)

    def wrap(self, name: str, fn):
        def call(df, batch_id):
            t0 = time.monotonic_ns()
            try:
                fn(df, batch_id)
            finally:
                with self.lock:
                    self.spans.append((name, int(batch_id), t0, time.monotonic_ns()))

        return call


class RoundGraph:
    """Fresh directories and fresh queries for one round."""

    def __init__(self, spark, work: str, tenant: str, plan: Plan, stub_url: str,
                 files_per_trigger: int, delay_ms: int, spans: SpanLog | None):
        self.spark = spark
        self.work = work
        self.plan = plan
        self.topics = derive_topics(f"ingest.{tenant}.claims.in")
        self.tenant = self.topics.tenant_id
        d = lambda *p: os.path.join(work, *p)  # noqa: E731
        self.rec_dir, self.notif_dir = d("src", "records"), d("src", "notifications")
        self.stage_dir, self.counts_dir = d("stage"), d("counts")
        self.ledger_dir, self.pipe_dir = d("ledger"), d("pipe")
        for p in (self.rec_dir, self.notif_dir, self.stage_dir, self.counts_dir):
            os.makedirs(p, exist_ok=True)
        self.stub_url = stub_url
        self.files_per_trigger = files_per_trigger
        self.delay_ms = delay_ms
        self.spans = spans
        self.pipe: ValidationPipeline | None = None
        self._notif_offset = 0
        self._file_seq = 0
        self._part_offsets = [0] * N_PARTITIONS
        self.published_files: list[tuple] = []  # (wall, mono_ns, rows)
        self.coord: dict[tuple, int] = {}  # (partition, offset) -> record

    def _wrap(self, name, fn):
        return self.spans.wrap(name, fn) if self.spans else fn

    def start(self) -> dict[str, str]:
        """Wire and start the three queries the way cli.main does;
        returns {query id: role}."""
        spark, topics, tenant = self.spark, self.topics, self.tenant

        def tx_sink(shape_fn, topic, tid):
            writer = KafkaPartitionedTransactionalWriter(
                "stand-in:9093",
                f"hri-validation-{tenant}-{tid}",
                producer_factory=standin_producer,
                commit_log_dir=os.path.join(self.pipe_dir, f"tx-partition-commits-{tid}"),
                producer_conf={LEDGER_KEY: self.ledger_dir},
            )
            return lambda df, b: writer(shape_fn(df, topic), b)

        notifications = lambda: parse_notifications(  # noqa: E731
            read_table_stream(spark, self.notif_dir, NOTIFICATION_ROW_SCHEMA)
        )
        pipe = ValidationPipeline(
            spark,
            validator=json_validator(),
            batch_completion_delay_ms=self.delay_ms,
            records_stream=read_table_stream(
                spark, self.rec_dir, HRI_RECORD_SCHEMA,
                max_files_per_trigger=self.files_per_trigger,
            ),
            notifications_stream=notifications(),
            workdir=self.pipe_dir,
            valid_sink=self._wrap(
                "sink.out", tx_sink(ksink.hri_record_sink, topics.output_topic, "out")
            ),
            invalid_sink=self._wrap(
                "sink.invalid",
                tx_sink(ksink.invalid_record_sink, topics.invalid_topic, "invalid"),
            ),
        )
        mgmt = MgmtApiSink(
            tenant_id=tenant,
            client=MgmtClient(self.stub_url, "pipebench", "secret", "hri",
                              self.stub_url + "/oauth"),
        )
        pipe.notification_out_sink = self._wrap(
            "sink.mgmt", lambda df, b: mgmt.foreach_batch_writer()(df, b)
        )
        counts_dir = self.counts_dir
        pipe.counts_sink = self._wrap(
            "sink.counts",
            lambda df, b: df.write.mode("overwrite").parquet(
                os.path.join(counts_dir, f"batch={b}")
            ),
        )
        self.pipe = pipe
        self.dim = pipe.start_notification_dim()
        pipe.start_validation(self.dim)
        # cli.py reads counts/ with COUNT_EVENT_SCHEMA alone; the file
        # source then adds the inferred `batch` partition column to every
        # micro-batch and the tracker query dies ("Invalid batch:
        # batchId,isValid != batchId,isValid,batch"). Declaring the
        # partition column keeps the sink and the tracker as cli wires them.
        counts_stream = read_table_stream(spark, counts_dir, COUNTS_ROW_SCHEMA)
        pipe.start_tracker(counts_stream, notifications())
        return {str(q.id): role for q, role in zip(pipe.queries, ROLES)}

    def stop(self) -> None:
        if self.pipe is not None:
            for q in self.pipe.queries:
                exc = q.exception()
                if exc is not None:
                    raise RuntimeError(f"streaming query failed: {exc}")
            self.pipe.stop()

    # -- publication -------------------------------------------------------
    def _move_in(self, staged: str, target_dir: str, mtime_ns: int | None = None) -> None:
        if mtime_ns is not None:
            os.utime(staged, ns=(mtime_ns, mtime_ns))
        os.rename(staged, os.path.join(target_dir, os.path.basename(staged)))

    def stage_notifications(self, items: list[tuple]) -> str:
        """Write [(batch, status)] as one Kafka-shaped notification file in
        the staging dir; returns its path."""
        topic = self.topics.notification_topic
        now = dt.datetime.now(dt.timezone.utc)
        rows = {"key": [], "value": [], "topic": [], "partition": [],
                "offset": [], "timestamp": []}
        for b, status in items:
            rows["key"].append(b.id.encode())
            rows["value"].append(notification_json(b, self.topics.input_topic, status))
            rows["topic"].append(topic)
            rows["partition"].append(0)
            rows["offset"].append(self._notif_offset)
            rows["timestamp"].append(now)
            self._notif_offset += 1
        return self._stage(pa.Table.from_pydict(rows, NOTIFICATION_ARROW), "notif")

    def publish_notifications(self, items: list[tuple]) -> float:
        """Publish; returns the wall-clock publication time."""
        path = self.stage_notifications(items)
        self._move_in(path, self.notif_dir)
        return time.time()

    def stage_records(self, idx: list[int]) -> str:
        """Write records ``idx`` of the plan as one Kafka-shaped file,
        spread round-robin over the topic's partitions."""
        r = self.plan.records
        topic = self.topics.input_topic
        rows = {"key": [], "value": [], "headers": [], "topic": [],
                "partition": [], "offset": []}
        for i in idx:
            part = i % N_PARTITIONS
            headers = []
            if r.batch[i] is not None:
                headers.append({"key": "batchId", "value": r.batch[i].encode()})
            rows["key"].append(r.key[i])
            rows["value"].append(r.value[i])
            rows["headers"].append(headers)
            rows["topic"].append(topic)
            rows["partition"].append(part)
            rows["offset"].append(self._part_offsets[part])
            self.coord[(part, self._part_offsets[part])] = i
            self._part_offsets[part] += 1
        return self._stage(pa.Table.from_pydict(rows, RECORD_ARROW), "rec")

    def _stage(self, table: pa.Table, kind: str) -> str:
        self._file_seq += 1
        path = os.path.join(self.stage_dir, f"{kind}-{self._file_seq:07d}.parquet")
        pq.write_table(table, path)
        return path

    def publish_records(self, staged: list[tuple]) -> int:
        """Move staged record files [(path, rows)] into the watched dir in
        order, with strictly increasing mtimes so the file source consumes
        them in that order; returns the monotonic publication time."""
        base = time.time_ns() - len(staged) * 1_000_000
        t = time.monotonic_ns()
        for n, (path, rows) in enumerate(staged):
            self._move_in(path, self.rec_dir, base + n * 1_000_000)
            self.published_files.append((time.time(), time.monotonic_ns(), rows))
        return t
