"""The end-to-end validation pipeline (BaseValidationJob.scala:148-220,
re-expressed as Structured Streaming queries).

``start_job`` wires and starts the job graph from its endpoints (record
and notification streams, a bulk-topic writer factory and a terminal
sink). ``cli.py`` passes Kafka endpoints; the tests pass file sources
and parquet endpoints, so both run the same graph — the reference's one
DI constructor shared by production and MiniCluster tests
(BaseValidationJob.scala:128-146).

Reference graph -> Spark mapping:

1. notification source --broadcast--> every validator instance
     => a *compacted notification dim*: a tiny streaming query folds the
     notification stream into a latest-per-batchId parquet dim
     (``commit_snapshot``: versioned dirs + _LATEST pointer for atomic
     swap); each record micro-batch broadcast-joins the current dim.
     Micro-batching removes the reference's metadata/data race
     (SURVEY.md §3 EP-1.4): a record batch always sees *all*
     notifications compacted so far. A record
     that arrives before its batch's notification goes to ``*.invalid``
     as ``Bad Message - Unknown batchId`` and emits no count event. The
     injectable BatchLookup (operators/batch_lookup.py, the reference's
     ValidationProcessFunction.scala:161-169 Mgmt-API lookup) is not
     wired into this query.

2. data source -> ValidationProcessFunction (3 outputs)
     => one foreachBatch: persist the annotated batch once, then write
     the three filtered projections (valid / invalid / counts) — DAG
     reuse replacing Flink side outputs (BaseValidationJob.scala:174-217).

3. counts ∪ notifications -> keyed Tracker -> terminal notifications
     => the counts hop through a ``parquet_dir_sink`` directory read back
     as a stream; streaming_tracker (applyInPandasWithState) runs over
     the tagged union, terminal output to the notification loopback sink
     or the Mgmt-API HTTP sink.

Delivery semantics: Spark checkpointing gives exactly-once *state* and
at-least-once *sink* writes. Three exactly-once options mirror the
reference's parallel transactional producers
(BaseValidationJob.scala:252-259):

- sinks/kafka_tx.KafkaPartitionedTransactionalWriter — the bulk-topic
  path: one transactional producer PER PARTITION on the executors,
  per-partition epoch logs; throughput scales with executor count.
  ``cli.py`` returns one from ``start_job``'s ``bulk_writer``.
- sinks/kafka_tx.KafkaTransactionalWriter — the control-plane path: a
  BatchSink that wraps each micro-batch in ONE driver-side Kafka
  transaction (begin/commit, abort-on-failure) with an epoch commit
  log so replays skip; right for the terminal (loopback) sink.
- the offset-identity idempotence contract: every valid record carries
  its source (topic, partition, offset), so replayed at-least-once
  writes are dedupable downstream (SURVEY.md §4, "exactly-once" row) —
  also the backstop for the writers' documented doubtful-epoch resend.

File sinks via foreachBatch write to per-micro-batch subdirectories
keyed by batch_id, which makes replays overwrite rather than duplicate.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.tracker import DEFAULT_TIMEOUT_MS
from ..operators.validation import (
    ValidationOutputs,
    Validator,
    json_validator,
    latest_notifications,
    validate_records,
)
from ..schemas import BATCH_NOTIFICATION_SCHEMA, COUNT_EVENT_SCHEMA
from ..sinks import kafka as ksink
from ..sources.files import read_table_stream
from ..topics import TopicSet
from .tracker_stream import streaming_tracker, tag_counts, tag_notifications

# A sink is any callable taking the (already shaped) micro-batch DataFrame
# and the micro-batch id.
BatchSink = Callable[[DataFrame, int], None]


# --------------------------------------------------------------------------
# Versioned snapshots: immutable version dirs + an atomic _LATEST pointer
# --------------------------------------------------------------------------

def latest_snapshot(root: str) -> Optional[str]:
    """The version directory ``root/_LATEST`` names, or None before the
    first commit. The pointer holds a name relative to ``root``, so a
    moved table still resolves; an absolute path (the format older
    writers stored) resolves to itself."""
    try:
        with open(os.path.join(root, "_LATEST")) as fh:
            name = fh.read().strip()
    except FileNotFoundError:
        return None
    return os.path.join(root, name) if name else None


def commit_snapshot(
    root: str, name: str, build: Callable[[Optional[str]], DataFrame]
) -> str:
    """Write ``build(latest_snapshot(root))`` as the immutable version
    ``root/name``, then swap ``_LATEST`` to it by one atomic rename.
    Readers hold the old version until the swap. When the pointer already
    names ``name`` — a replayed micro-batch that committed before a
    crash — nothing is written. Returns the version directory."""
    path = os.path.join(root, name)
    base = latest_snapshot(root)
    if base == path:
        return path
    build(base).write.mode("overwrite").parquet(path)
    tmp = os.path.join(root, "_LATEST.tmp")
    with open(tmp, "w") as fh:
        fh.write(name)
    os.replace(tmp, os.path.join(root, "_LATEST"))
    return path


# --------------------------------------------------------------------------
# Compacted notification dim (broadcast-state replacement)
# --------------------------------------------------------------------------

class NotificationDim:
    """Latest-per-batchId notification table, atomically versioned.

    Equivalent of the broadcast map state (BaseValidationJob.scala:291-295,
    ValidationProcessFunction.scala:215-224): writers fold each
    notification micro-batch into a full rewrite (the dim is one row per
    batch — tiny by construction), readers always see a consistent
    snapshot via the _LATEST pointer file."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # version-keyed snapshot cache: the dim only changes when a new
        # notification micro-batch lands, but the validation query reads
        # it EVERY micro-batch — without this cache each batch pays a
        # fresh parquet read + broadcast of an unchanged table (the
        # Flink broadcast state it models is pushed on change, not
        # polled: ValidationProcessFunction.scala:215-224). Keyed by the
        # _LATEST pointer value, so a writer flipping the pointer
        # invalidates it atomically on the next read.
        self._cache_version: Optional[str] = None
        self._cache_df: Optional[DataFrame] = None

    def read(self, spark: SparkSession) -> DataFrame:
        path = latest_snapshot(self.root)
        if path is None:
            return spark.createDataFrame([], BATCH_NOTIFICATION_SCHEMA).withColumn(
                "offset", F.lit(None).cast("long")
            )
        if path != self._cache_version:
            # materialize once per dim version; localCheckpoint gives a
            # flat in-memory leaf so every downstream broadcast of the
            # dim reuses computed blocks instead of re-scanning parquet
            self._cache_df = spark.read.parquet(path).localCheckpoint()
            self._cache_version = path
        return self._cache_df

    def merge(self, notif_batch: DataFrame, batch_id: int) -> None:
        """foreachBatch body for the notification stream."""
        spark = notif_batch.sparkSession
        commit_snapshot(
            self.root,
            f"v{batch_id:020d}",
            lambda _base: latest_notifications(
                self.read(spark).unionByName(notif_batch), "offset"
            ),
        )

    def writer(self) -> BatchSink:
        return self.merge


# --------------------------------------------------------------------------
# Pipeline
# --------------------------------------------------------------------------

@dataclass
class ValidationPipeline:
    """Composable validation job. Sources/sinks are injected DataFrames /
    callables (the reference's test constructor, BaseValidationJob.scala:
    128-146); ``start_job`` wires and starts the production graph."""

    spark: SparkSession
    validator: Optional[Validator] = None
    batch_completion_delay_ms: int = DEFAULT_TIMEOUT_MS
    # streaming sources
    records_stream: Optional[DataFrame] = None
    notifications_stream: Optional[DataFrame] = None
    # sinks (shaped DataFrames handed to callables per micro-batch)
    valid_sink: Optional[BatchSink] = None
    invalid_sink: Optional[BatchSink] = None
    counts_sink: Optional[BatchSink] = None
    notification_out_sink: Optional[BatchSink] = None  # tracker terminal
    # state locations
    workdir: str = "/tmp/hri-pipeline"
    queries: list = field(default_factory=list)

    # --- batch mode --------------------------------------------------------
    def run_batch(
        self, records: DataFrame, notifications: DataFrame
    ) -> ValidationOutputs:
        """One-shot batch validation (same DataFrame code the streaming
        path runs per micro-batch)."""
        return validate_records(records, notifications, self.validator)

    # --- streaming mode ----------------------------------------------------
    def _checkpoint(self, name: str) -> str:
        return os.path.join(self.workdir, "checkpoints", name)

    def start_notification_dim(self, trigger: Optional[dict] = None) -> "NotificationDim":
        """Query 1: fold the notification stream into the compacted dim."""
        dim = NotificationDim(os.path.join(self.workdir, "notification_dim"))
        q = (
            self.notifications_stream.writeStream.foreachBatch(dim.writer())
            .option("checkpointLocation", self._checkpoint("notification_dim"))
            .trigger(**(trigger or {"processingTime": "1 second"}))
            .start()
        )
        self.queries.append(q)
        return dim

    def start_validation(
        self, dim: NotificationDim, trigger: Optional[dict] = None
    ):
        """Query 2: validate each record micro-batch against the current
        dim; fan out the three projections with one persist (DAG reuse —
        the side-output replacement)."""

        def process(batch_df: DataFrame, batch_id: int) -> None:
            notif = dim.read(batch_df.sparkSession)
            out = validate_records(
                batch_df, notif, self.validator, notifications_pre_deduped=True
            )
            ann = out.annotated.persist()
            try:
                # run the three projections' sink jobs CONCURRENTLY:
                # they share the persisted annotated table (Spark's
                # block manager serializes per-partition computation, so
                # the racing jobs compute each block once), and on a
                # multi-slot cluster the micro-batch wall time is
                # max(sink jobs), not their sum — the Flink side gets
                # this for free from side outputs on one operator
                # (ValidationProcessFunction.scala:42-45 routing).
                sinks = [
                    (s, df)
                    for s, df in (
                        (self.valid_sink, out.valid),
                        (self.invalid_sink, out.invalid),
                        (self.counts_sink, out.counts),
                    )
                    if s
                ]
                if len(sinks) > 1:
                    with ThreadPoolExecutor(len(sinks)) as pool:
                        futures = [
                            pool.submit(s, df, batch_id) for s, df in sinks
                        ]
                        for f in futures:
                            f.result()
                elif sinks:
                    sinks[0][0](sinks[0][1], batch_id)
            finally:
                ann.unpersist()

        q = (
            self.records_stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", self._checkpoint("validation"))
            .trigger(**(trigger or {"processingTime": "1 second"}))
            .start()
        )
        self.queries.append(q)
        return q

    def start_tracker(
        self,
        counts_stream: DataFrame,
        notifications_stream: DataFrame,
        trigger: Optional[dict] = None,
    ):
        """Query 3: counts ∪ notifications -> stateful tracker -> terminal
        notification sink(s)."""
        tagged = tag_counts(counts_stream, seq_col=None).unionByName(
            tag_notifications(notifications_stream)
        )
        terminal = streaming_tracker(
            tagged, timeout_ms=self.batch_completion_delay_ms
        )

        def emit(batch_df: DataFrame, batch_id: int) -> None:
            if self.notification_out_sink:
                self.notification_out_sink(batch_df, batch_id)

        q = (
            terminal.writeStream.foreachBatch(emit)
            .option("checkpointLocation", self._checkpoint("tracker"))
            .outputMode("append")
            .trigger(**(trigger or {"processingTime": "1 second"}))
            .start()
        )
        self.queries.append(q)
        return q

    def stop(self) -> None:
        for q in self.queries:
            try:
                q.stop()
            except Exception:
                pass
        self.queries.clear()


def start_job(
    spark: SparkSession,
    topics: TopicSet,
    *,
    records_stream: DataFrame,
    notifications_stream: DataFrame,
    bulk_writer: Callable[[str], BatchSink],
    terminal_sink: BatchSink,
    workdir: str,
    batch_delay_ms: int,
) -> ValidationPipeline:
    """Wire and start the job graph: the notification dim, validation
    with its three-way fan-out, and the tracker, in that order.

    ``bulk_writer(tid)`` returns the sink for Kafka-shaped rows of the
    ``"out"`` or ``"invalid"`` topic; ``terminal_sink`` receives the
    tracker's terminal rows. Counts hop through ``workdir/counts`` (a
    ``parquet_dir_sink``, read back as a stream). The tracker reuses
    ``notifications_stream``: each started query gets its own source."""

    def bulk(shape, topic: str, tid: str) -> BatchSink:
        write = bulk_writer(tid)
        return lambda df, b: write(shape(df, topic), b)

    counts_dir = os.path.join(workdir, "counts")
    pipe = ValidationPipeline(
        spark,
        validator=json_validator(),
        batch_completion_delay_ms=batch_delay_ms,
        records_stream=records_stream,
        notifications_stream=notifications_stream,
        valid_sink=bulk(ksink.hri_record_sink, topics.output_topic, "out"),
        invalid_sink=bulk(
            ksink.invalid_record_sink, topics.invalid_topic, "invalid"
        ),
        counts_sink=parquet_dir_sink(counts_dir),
        notification_out_sink=terminal_sink,
        workdir=workdir,
    )
    pipe.start_validation(pipe.start_notification_dim())
    pipe.start_tracker(
        read_parquet_dir_stream(spark, counts_dir, COUNT_EVENT_SCHEMA),
        notifications_stream,
    )
    return pipe


def parquet_dir_sink(root: str) -> BatchSink:
    """Idempotent-on-replay file sink: each micro-batch writes (overwrite)
    its own subdirectory, so a restarted query that replays batch N
    rewrites rather than duplicates. Read it back with
    ``read_parquet_dir_stream``."""

    def write(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(root, f"batch={batch_id}"))

    return write


def read_parquet_dir_stream(
    spark: SparkSession, root: str, schema: T.StructType
) -> DataFrame:
    """Streaming read of a ``parquet_dir_sink(root)`` directory: ``schema``
    plus the ``batch`` column (the writing micro-batch's id). The file
    source infers ``batch`` from the ``batch=<id>`` directories and adds
    it to every row, so it must be declared: without it each micro-batch
    fails with ``Invalid batch: <schema> != <schema>,batch``. ``root`` is
    created when missing: a reader usually starts before the sink's first
    write, and the file source refuses a path that does not exist."""
    os.makedirs(root, exist_ok=True)
    return read_table_stream(
        spark,
        root,
        T.StructType(schema.fields + [T.StructField("batch", T.LongType(), True)]),
    )


def upsert_parquet_sink(
    root: str, keys: list[str], order_col: str | None = None
) -> BatchSink:
    """MERGE-into-table streaming sink on plain parquet: each micro-batch
    delta is upserted (operators/relational.py merge_upsert) into the
    current snapshot and committed as version ``v{batch_id:020d}``
    (``commit_snapshot``). This is the minimal form of what Delta/Iceberg
    MERGE does: versioned immutable snapshots + an atomic pointer commit.

    Replay-idempotence: upsert of the same delta is a semantic no-op, and
    a replayed batch id is detected via the pointer (skip) — so restart
    after any crash point (before write, after write/before swap, after
    swap) converges to the same table. Within-batch duplicates collapse
    via latest_per_key on ``order_col`` (or dropDuplicates without one).

    Scale notes: each commit rewrites the full snapshot — correct for
    dimension-table upkeep (the reference's notification dim, batch
    metadata), wrong for fact streams (use parquet_dir_sink partitions
    there). On object stores, replace the pointer rename with a
    conditional-put of the pointer object."""
    from hri_flink_pipeline_core_spark.operators.relational import (
        dedup_exact,
        latest_per_key,
        merge_upsert,
    )

    def write(df: DataFrame, batch_id: int) -> None:
        def build(base: Optional[str]) -> DataFrame:
            delta = (
                latest_per_key(df, keys, order_col)
                if order_col
                else dedup_exact(df, keys)
            )
            if base is None:
                return delta
            return merge_upsert(df.sparkSession.read.parquet(base), delta, keys)

        commit_snapshot(root, f"v{batch_id:020d}", build)

    return write


def compact_snapshot(
    spark: SparkSession, root: str, target_bytes: int = 128 * 1024 * 1024
) -> str:
    """Small-file compaction for a versioned-snapshot table: read the
    ``_LATEST`` snapshot, rewrite it into ceil(total_bytes/target_bytes)
    files and commit it as the new version ``<latest>_compact``
    (``commit_snapshot``). Data-identical by construction (one
    round-robin repartition, no row transformation); readers are never
    disturbed — they hold the old version directory until the atomic
    pointer swap.

    This is the maintenance half of the small-files problem every
    streaming parquet sink accrues: micro-batches write
    rate-proportional file counts, scans then pay per-file open/listing
    overhead. At 100 TB the same op runs per partition directory with
    target = spark.sql.files.maxPartitionBytes so one file = one scan
    split (no partial-split waste). Returns the new version directory."""
    base_dir = latest_snapshot(root)
    total = sum(
        os.path.getsize(os.path.join(base_dir, f))
        for f in os.listdir(base_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_bytes))
    return commit_snapshot(
        root,
        os.path.basename(base_dir.rstrip("/")) + "_compact",
        lambda base: spark.read.parquet(base).repartition(n_files),
    )
