"""Transactional (exactly-once) Kafka producer discipline for foreachBatch.

Reference parity: the Flink job writes valid records with transactional
producers under Semantic.EXACTLY_ONCE running in parallel on every task
manager, committing on every checkpoint (BaseValidationJob.scala:252-259)
with ``transaction.timeout.ms=900000`` (BaseValidationJob.scala:331-334).
Spark's built-in Kafka sink is at-least-once, so exactly-once is layered
on in ``foreachBatch`` with two writers sharing one protocol:

- ``KafkaTransactionalWriter`` — ONE transaction per micro-batch, rows
  streamed through the driver. The right shape for control-plane topics
  (terminal notifications: ~1 row per batch) where a single atomic
  transaction per epoch is the point.
- ``KafkaPartitionedTransactionalWriter`` — the bulk-topic (*.out /
  *.invalid) scale path: ``foreachPartition`` opens one transactional
  producer PER PARTITION on the executors (transactional.id
  ``<prefix>-p<partition>``), each with its own epoch commit log. Rows
  never route through the driver, so throughput scales with the
  executor count — the Spark equivalent of Flink's parallel
  EXACTLY_ONCE producers. Atomicity is per (partition, epoch), not per
  epoch: a mid-batch failure can leave some partitions committed for an
  epoch while others replay — read_committed consumers still never see
  a partial PARTITION, and replayed partitions skip via their own log,
  so no duplicates are produced. (Flink's 2PC has the same unit: each
  sink subtask commits its own transaction at the checkpoint barrier.)

Protocol, common to both writers:

- Per transaction: begin -> send every row -> intent record -> commit
  -> commit record. A failure before commit aborts the transaction, so
  read_committed consumers never observe a partial write.
- A durable epoch log makes replays idempotent: when Spark re-runs a
  micro-batch after recovery, a logged epoch is recognized and skipped —
  the Spark-idiomatic replacement for Flink's checkpoint-coordinated
  two-phase commit (the micro-batch id IS the epoch).
- The log carries two records per epoch: ``I <epoch>`` (intent, fsynced
  BEFORE commit_transaction) and ``C <epoch>`` (commit confirmed,
  fsynced after). A crash BETWEEN broker commit and the commit record
  is therefore detectable: on restart such an epoch is *doubtful* —
  the broker may or may not have committed — and the writer applies
  ``doubtful_epoch_policy``: ``resend`` (default — re-send in a new
  transaction; records carry source topic/partition/offset identity,
  sinks/kafka.py, so downstream offset-identity dedup absorbs the
  possible duplicate), ``skip`` (at-most-once for that epoch), or
  ``fail`` (halt for manual offset inspection). Without the intent
  record this crash window would silently duplicate under ``resend``
  semantics with no signal; with it the ambiguity is explicit and
  policy-controlled.
- ``transactional.id`` is stable per writer (per partition slot for the
  parallel writer) so a restarted incarnation fences any zombie producer
  from the previous one (Kafka bumps the producer epoch on
  init_transactions and aborts its in-flight transaction).

Cluster note: the commit logs must live on storage all executors and the
driver share across restarts — a POSIX-mount filesystem (HDFS/NFS/
fuse-mounted stores; a plain S3 bucket needs an object-store log
implementation, the append/fsync here speaks POSIX only) —
exactly like Spark's own checkpoint dir. The parallel writer also
assumes the micro-batch's partitioning is deterministic under replay
(true for source-offset-defined partitions; do not round-robin
repartition between source and sink).

The producer is injected (``producer_factory``) so tests — and
environments without a broker, like this one — drive the exact same
transaction state machine with a fake. A real deployment passes
``confluent_producer_factory`` (module-level, picklable: the parallel
writer ships it to executors).
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Optional

# Flink parity defaults (BaseValidationJob.scala:313-350): Event Streams
# message-size workaround and the 15-minute transaction timeout.
TRANSACTION_TIMEOUT_MS = 900_000
DEFAULT_PRODUCER_CONF = {
    "transaction.timeout.ms": str(TRANSACTION_TIMEOUT_MS),
    "compression.type": "zstd",
    "batch.size": "16384",
    "max.request.size": "10485760",
    "enable.idempotence": "true",
    "acks": "all",
}

_POLICIES = ("resend", "skip", "fail")


class EpochLog:
    """Durable append-only epoch log with a two-record commit protocol.

    Line format: ``I <epoch>`` (intent — about to commit_transaction),
    ``C <epoch>`` (commit confirmed), ``A <epoch>`` (abort confirmed —
    the broker definitively has NO data for this attempt, so the epoch
    is NOT doubtful; a later attempt may still commit it). Bare
    ``<epoch>`` lines from the round-2 single-record format parse as
    commits (backward compatible). Appends are fsynced — the record must
    survive the crash it exists to witness.

    Storage contract: the log speaks POSIX (open/append/fsync) — a
    local disk, HDFS/NFS mount, or any shared POSIX filesystem. Plain
    object stores (S3 without a mount) need an object-store log
    implementation instead. The log grows two or three short lines per
    epoch; production deployments should rotate/compact it past ~1e6
    epochs (replays only ever consult recent epochs)."""

    def __init__(self, path: Optional[str]) -> None:
        self.path = path
        self.committed: set[int] = set()
        self._intents: set[int] = set()
        self._aborted: set[int] = set()
        if path and os.path.exists(path):
            with open(path, "r", encoding="utf-8") as fh:
                # Replay applies the same transitions as record_* so the
                # in-memory state reflects the LAST record per epoch
                # (an epoch can legally go I -> A -> I across attempts;
                # a set-union parse would mistake the re-armed intent
                # for an aborted one).
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    if line.startswith("I "):
                        e = int(line[2:])
                        self._aborted.discard(e)
                        self._intents.add(e)
                    elif line.startswith("C "):
                        self.committed.add(int(line[2:]))
                    elif line.startswith("A "):
                        self._aborted.add(int(line[2:]))
                    else:  # legacy single-record commit line
                        self.committed.add(int(line))

    def doubtful(self) -> set[int]:
        """Epochs whose intent was logged but whose commit record never
        landed AND whose transaction was not known-aborted: the
        broker-side outcome is genuinely unknown. A successful abort
        clears the doubt — the writer positively knows nothing
        committed, so the retry is a plain re-send, not a policy case."""
        return self._intents - self.committed - self._aborted

    def _append(self, rec: str) -> None:
        if not self.path:
            return
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(rec + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    def record_intent(self, epoch: int) -> None:
        # A re-attempt after an abort re-arms the intent: the new
        # transaction's outcome is once again unknown until C/A lands.
        self._aborted.discard(epoch)
        self._intents.add(epoch)
        self._append(f"I {epoch}")

    def record_commit(self, epoch: int) -> None:
        self.committed.add(epoch)
        self._append(f"C {epoch}")

    def record_abort(self, epoch: int) -> None:
        self._aborted.add(epoch)
        self._append(f"A {epoch}")


def _write_epoch(
    log: EpochLog,
    epoch: int,
    policy: str,
    who: str,
    get_producer: Callable[[], object],
    drop_producer: Callable[[], None],
    rows: Callable[[], Iterable],
) -> None:
    """Write one epoch in one transaction: the protocol both writers run
    (module doc). The writers differ only in where the epoch log lives,
    how a producer is obtained (``get_producer``: cached and
    ``init_transactions``-ed) and how a producer that cannot abort is
    evicted (``drop_producer``). ``rows`` is called only once the
    transaction is open, so a skipped epoch reads no rows."""
    if epoch in log.committed:
        # Replayed epoch (same batch_id after recovery): its data is
        # already committed, so re-sending would duplicate.
        return
    if epoch in log.doubtful():
        if policy == "fail":
            raise RuntimeError(
                f"{who}: epoch {epoch} has a logged intent but no commit "
                "record — a crash landed between Kafka commit and the log "
                "append. Verify via broker offsets, then append "
                f"'C {epoch}' to {log.path} (committed) or delete the "
                "intent line (not committed) and restart."
            )
        if policy == "skip":
            # at-most-once for this epoch: assume the broker commit landed.
            log.record_commit(epoch)
            return
        # resend: downstream offset-identity dedup absorbs it
    producer = get_producer()
    try:
        producer.begin_transaction()
        send_rows(producer, rows())
        log.record_intent(epoch)
        producer.commit_transaction()
    except Exception:
        try:
            producer.abort_transaction()
        except Exception:
            # A producer that cannot even abort is fenced or dead (e.g. a
            # newer incarnation bumped the epoch). Evict it so the next
            # attempt re-inits instead of failing every later epoch.
            # After a SUCCESSFUL abort the producer is reusable per the
            # Kafka client contract — keep it.
            drop_producer()
        else:
            # The abort SUCCEEDED: the broker definitively has no data
            # for this attempt. If an intent was already logged
            # (commit_transaction was the failing call), record the
            # abort so the retry is a plain re-send, not a
            # doubtful-epoch policy case — under 'skip' the
            # misclassification would silently drop the epoch.
            if epoch in log.doubtful():
                try:
                    log.record_abort(epoch)
                except Exception:
                    pass  # never mask the original failure
        raise
    log.record_commit(epoch)


def send_rows(producer, rows: Iterable) -> None:
    """Send Kafka-sink-shaped rows (``topic, key, value[, headers]``)."""
    for row in rows:
        headers = None
        if "headers" in row.__fields__ and row["headers"] is not None:
            headers = [
                (h["key"], bytes(h["value"]) if h["value"] is not None else None)
                for h in row["headers"]
            ]
        producer.send(
            topic=row["topic"],
            key=bytes(row["key"]) if row["key"] is not None else None,
            value=bytes(row["value"]) if row["value"] is not None else None,
            headers=headers,
        )


class KafkaTransactionalWriter:
    """Exactly-once micro-batch writer (driver-side): one transaction per
    epoch, intent+commit epoch log for replay idempotence and
    crash-window detection, stable transactional.id for zombie fencing.

    Use as the ``foreachBatch`` callback::

        writer = KafkaTransactionalWriter("brokers:9093", "hri-valid-out",
                                          producer_factory=make_producer,
                                          commit_log=ckpt + "/tx-commits")
        (shaped_df.writeStream.foreachBatch(writer).start())

    The DataFrame must carry the Kafka sink shape produced by
    sinks/kafka.py: ``topic STRING, key BINARY, value BINARY`` and
    optionally ``headers ARRAY<STRUCT<key STRING, value BINARY>>``.

    Rows stream through the driver (``toLocalIterator`` — bounded
    memory). Right for control-plane topics; for bulk topics use
    ``KafkaPartitionedTransactionalWriter`` (executor-parallel).
    """

    def __init__(
        self,
        bootstrap_servers: str,
        transactional_id: str,
        producer_factory: Callable[[dict], object],
        commit_log: Optional[str] = None,
        producer_conf: Optional[dict] = None,
        doubtful_epoch_policy: str = "resend",
    ) -> None:
        if doubtful_epoch_policy not in _POLICIES:
            raise ValueError(f"doubtful_epoch_policy must be one of {_POLICIES}")
        self.bootstrap_servers = bootstrap_servers
        self.transactional_id = transactional_id
        self._factory = producer_factory
        self._producer = None
        self._log = EpochLog(commit_log)
        self.doubtful_epoch_policy = doubtful_epoch_policy
        conf = dict(DEFAULT_PRODUCER_CONF)
        conf.update(producer_conf or {})
        conf["bootstrap.servers"] = bootstrap_servers
        conf["transactional.id"] = transactional_id
        self.producer_conf = conf

    def _get_producer(self):
        if self._producer is None:
            self._producer = self._factory(dict(self.producer_conf))
            # Fences any zombie with the same transactional.id and
            # aborts its in-flight transaction (Kafka epoch bump).
            self._producer.init_transactions()
        return self._producer

    def _drop_producer(self) -> None:
        self._producer = None

    def already_committed(self, batch_id: int) -> bool:
        return batch_id in self._log.committed

    # -- foreachBatch entry point --------------------------------------
    def __call__(self, batch_df, batch_id: int) -> None:
        """Write one micro-batch in one transaction; a replayed epoch is
        skipped."""
        _write_epoch(
            self._log,
            int(batch_id),
            self.doubtful_epoch_policy,
            "KafkaTransactionalWriter",
            get_producer=self._get_producer,
            drop_producer=self._drop_producer,
            # toLocalIterator: rows stream to the driver one partition
            # at a time — bounded memory, no full collect.
            rows=batch_df.toLocalIterator,
        )

    def close(self) -> None:
        if self._producer is not None and hasattr(self._producer, "close"):
            self._producer.close()
        self._producer = None


class KafkaPartitionedTransactionalWriter:
    """Executor-parallel exactly-once micro-batch writer for bulk topics:
    ``foreachPartition`` with one transactional producer per partition
    (``transactional.id = <prefix>-p<pid>``) and one epoch log per
    partition under ``commit_log_dir`` (``p<pid>.log``).

    Throughput scales with executors — rows never route through the
    driver. Parity target: the reference's parallel EXACTLY_ONCE
    producers, one per task slot (BaseValidationJob.scala:252-259).

    Replay semantics are per (partition, epoch): a failed micro-batch
    leaves committed partitions' logs marked, so the Spark retry skips
    them and completes only the missing ones — no duplicates under
    read_committed. Requires ``commit_log_dir`` on executor-shared
    storage and a replay-deterministic partitioning (see module doc).

    Everything captured by the per-partition closure (factory, conf,
    paths) is shipped to Python workers, so ``producer_factory`` must be
    picklable — a module-level function, not a bound method or local
    lambda."""

    def __init__(
        self,
        bootstrap_servers: str,
        transactional_id_prefix: str,
        producer_factory: Callable[[dict], object],
        commit_log_dir: str,
        producer_conf: Optional[dict] = None,
        doubtful_epoch_policy: str = "resend",
    ) -> None:
        if doubtful_epoch_policy not in _POLICIES:
            raise ValueError(f"doubtful_epoch_policy must be one of {_POLICIES}")
        self.bootstrap_servers = bootstrap_servers
        self.transactional_id_prefix = transactional_id_prefix
        self._factory = producer_factory
        self.commit_log_dir = commit_log_dir
        self.doubtful_epoch_policy = doubtful_epoch_policy
        conf = dict(DEFAULT_PRODUCER_CONF)
        conf.update(producer_conf or {})
        conf["bootstrap.servers"] = bootstrap_servers
        self.producer_conf = conf

    def __call__(self, batch_df, batch_id: int) -> None:
        # Speculative execution would launch concurrent attempts of the
        # same partition; both could pass the committed-epoch check
        # before either appends its commit record, and the second
        # attempt would re-send the rows in a second transaction —
        # duplicates under read_committed. Transactional foreachPartition
        # sinks require speculation OFF (the standard constraint);
        # enforce it rather than document-and-hope.
        sc_conf = batch_df.sparkSession.sparkContext.getConf()
        if sc_conf.get("spark.speculation", "false").lower() == "true":
            raise RuntimeError(
                "KafkaPartitionedTransactionalWriter requires "
                "spark.speculation=false: speculative duplicate attempts "
                "of one partition break the per-partition epoch-log "
                "exactly-once protocol"
            )
        # Locals only in the closure — `self` must not ship to executors.
        conf = dict(self.producer_conf)
        factory = self._factory
        log_dir = self.commit_log_dir
        prefix = self.transactional_id_prefix
        policy = self.doubtful_epoch_policy
        epoch = int(batch_id)

        def _write_partition(rows) -> None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            tid = f"{prefix}-p{pid}"
            pconf = {**conf, "transactional.id": tid}
            _write_epoch(
                EpochLog(os.path.join(log_dir, f"p{pid}.log")),
                epoch,
                policy,
                f"KafkaPartitionedTransactionalWriter[p{pid}]",
                # One producer per (worker process, transactional.id),
                # cached across micro-batches: Python workers are reused
                # (spark.python.worker.reuse), so steady state is one
                # init_transactions per slot, not per batch. If the
                # partition migrates to another worker, the new
                # producer's init fences the old one — safe by
                # construction.
                get_producer=lambda: _worker_producer(factory, pconf),
                drop_producer=lambda: _WORKER_PRODUCERS.pop(tid, None),
                rows=lambda: rows,
            )

        batch_df.foreachPartition(_write_partition)


# Per-worker-process producer cache (executor side). Keyed by
# transactional.id — a worker holds at most one live producer per slot id.
_WORKER_PRODUCERS: dict = {}


def _worker_producer(factory, conf: dict):
    tid = conf["transactional.id"]
    p = _WORKER_PRODUCERS.get(tid)
    if p is None:
        p = factory(dict(conf))
        p.init_transactions()
        _WORKER_PRODUCERS[tid] = p
    return p


def confluent_producer_factory(conf: dict):
    """Real-broker producer factory: adapts confluent-kafka's Producer to
    the send/transaction protocol this writer drives. Gated behind an
    import-try — the library is not bundled; install ``confluent-kafka``
    on a real deployment (the tests use a fake with the same protocol)."""
    try:
        from confluent_kafka import Producer  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover - not in this container
        raise RuntimeError(
            "exactly-once Kafka mode needs the confluent-kafka package "
            "(pip install confluent-kafka); the at-least-once built-in "
            "Spark sink needs nothing extra"
        ) from exc

    class _Adapter:  # pragma: no cover - requires a broker
        def __init__(self, c):
            self._p = Producer(c)

        def init_transactions(self):
            self._p.init_transactions()

        def begin_transaction(self):
            self._p.begin_transaction()

        def send(self, topic, key, value, headers=None):
            # poll(0) services delivery callbacks so the client's local
            # queue drains; without it batches beyond the queue bound
            # (~100k msgs) hard-fail with BufferError on every replay.
            # On BufferError, poll-wait and retry — confluent-kafka's
            # documented backpressure pattern.
            while True:
                try:
                    self._p.produce(topic, key=key, value=value, headers=headers)
                    self._p.poll(0)
                    return
                except BufferError:
                    self._p.poll(0.5)

        def commit_transaction(self):
            self._p.flush()
            self._p.commit_transaction()

        def abort_transaction(self):
            self._p.abort_transaction()

        def close(self):
            self._p.flush()

    return _Adapter(conf)
