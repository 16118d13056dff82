"""The end-to-end validation pipeline (BaseValidationJob.scala:148-220,
re-expressed as Structured Streaming queries).

Reference graph -> Spark mapping:

1. notification source --broadcast--> every validator instance
     => a *compacted notification dim*: a tiny streaming query folds the
     notification stream into a latest-per-batchId parquet dim
     (versioned dirs + _LATEST pointer for atomic swap); each record
     micro-batch broadcast-joins the current dim. Micro-batching removes
     the reference's metadata/data race (SURVEY.md §3 EP-1.4): a record
     batch always sees *all* notifications compacted so far. A record
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
     => streaming_tracker (applyInPandasWithState) over the tagged
     union, terminal output to the notification loopback sink and/or the
     Mgmt-API HTTP sink.

Delivery semantics: Spark checkpointing gives exactly-once *state* and
at-least-once *sink* writes. Three exactly-once options mirror the
reference's parallel transactional producers
(BaseValidationJob.scala:252-259):

- sinks/kafka_tx.KafkaPartitionedTransactionalWriter — the bulk-topic
  path: one transactional producer PER PARTITION on the executors,
  per-partition epoch logs; throughput scales with executor count.
  Pass as valid_sink / invalid_sink.
- sinks/kafka_tx.KafkaTransactionalWriter — the control-plane path: a
  BatchSink that wraps each micro-batch in ONE driver-side Kafka
  transaction (begin/commit, abort-on-failure) with an epoch commit
  log so replays skip; right for notification_out_sink.
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
    latest_notifications,
    validate_records,
)
from ..schemas import BATCH_NOTIFICATION_SCHEMA
from ..sources.files import read_table_stream
from .tracker_stream import streaming_tracker, tag_counts, tag_notifications

# A sink is any callable taking the (already shaped) micro-batch DataFrame
# and the micro-batch id.
BatchSink = Callable[[DataFrame, int], None]


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

    def _latest_path(self) -> Optional[str]:
        p = os.path.join(self.root, "_LATEST")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            v = f.read().strip()
        return os.path.join(self.root, v) if v else None

    def read(self, spark: SparkSession) -> DataFrame:
        path = self._latest_path()
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
        merged = latest_notifications(
            self.read(spark).unionByName(notif_batch), "offset"
        )
        version = f"v{batch_id:020d}"
        merged.write.mode("overwrite").parquet(os.path.join(self.root, version))
        tmp = os.path.join(self.root, "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, os.path.join(self.root, "_LATEST"))

    def writer(self) -> BatchSink:
        return self.merge


# --------------------------------------------------------------------------
# Pipeline
# --------------------------------------------------------------------------

@dataclass
class ValidationPipeline:
    """Composable validation job. Sources/sinks are injected DataFrames /
    callables (the reference's test constructor, BaseValidationJob.scala:
    128-146); the Kafka wiring in cli.py builds them for production."""

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
    current snapshot, written as a new immutable version directory
    ``v{batch_id}``, then a ``_LATEST`` pointer file is atomically swapped
    (os.replace). This is the minimal form of what Delta/Iceberg MERGE
    does: versioned immutable snapshots + an atomic pointer commit.

    Replay-idempotence: upsert of the same delta is a semantic no-op, and
    a replayed batch id is detected via the pointer (skip) — so restart
    after any crash point (before write, after write/before swap, after
    swap) converges to the same table. Within-batch duplicates collapse
    via latest_per_key on ``order_col`` (or dropDuplicates without one).

    Scale notes: each commit rewrites the full snapshot — correct for
    dimension-table upkeep (the reference's notification dim, batch
    metadata), wrong for fact streams (use parquet_dir_sink partitions
    there). On object stores, replace os.replace with a conditional-put
    of the pointer object."""
    from hri_flink_pipeline_core_spark.operators.relational import (
        dedup_exact,
        latest_per_key,
        merge_upsert,
    )

    latest_path = os.path.join(root, "_LATEST")

    def write(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        version_dir = os.path.join(root, f"v{batch_id}")
        delta = (
            latest_per_key(df, keys, order_col)
            if order_col
            else dedup_exact(df, keys)
        )
        base_dir = None
        if os.path.exists(latest_path):
            with open(latest_path) as fh:
                base_dir = fh.read().strip()
        if base_dir == version_dir:
            return  # replayed batch already committed
        merged = (
            merge_upsert(spark.read.parquet(base_dir), delta, keys)
            if base_dir
            else delta
        )
        merged.write.mode("overwrite").parquet(version_dir)
        tmp = latest_path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(version_dir)
        os.replace(tmp, latest_path)

    return write


def compact_snapshot(
    spark: SparkSession, root: str, target_bytes: int = 128 * 1024 * 1024
) -> str:
    """Small-file compaction for a versioned-snapshot table: read the
    ``_LATEST`` snapshot, rewrite it into ceil(total_bytes/target_bytes)
    files, commit as a new immutable version (``v{n}_compact``) and swap
    the pointer. Data-identical by construction (one round-robin
    repartition, no row transformation); readers are never disturbed —
    they hold the old version directory until the atomic pointer swap.

    This is the maintenance half of the small-files problem every
    streaming parquet sink accrues: micro-batches write
    rate-proportional file counts, scans then pay per-file open/listing
    overhead. At 100 TB the same op runs per partition directory with
    target = spark.sql.files.maxPartitionBytes so one file = one scan
    split (no partial-split waste). Returns the new version directory."""
    latest_path = os.path.join(root, "_LATEST")
    with open(latest_path) as fh:
        base_dir = fh.read().strip()
    total = sum(
        os.path.getsize(os.path.join(base_dir, f))
        for f in os.listdir(base_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_bytes))
    out_dir = base_dir.rstrip("/") + "_compact"
    df = spark.read.parquet(base_dir)
    df.repartition(n_files).write.mode("overwrite").parquet(out_dir)
    tmp = latest_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(out_dir)
    os.replace(tmp, latest_path)
    return out_dir
