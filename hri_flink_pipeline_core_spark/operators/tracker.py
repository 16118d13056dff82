"""Batch-progress tracker.

Reference: Tracker.scala:32-196 — a Flink KeyedCoProcessFunction over
(count events, notifications) keyed by batchId, with ValueState
``BatchState(valid, invalid, isFinished, lastModified, notification)``
and a processing-time timer. Terminal transitions:

- FAILED  when ``invalid == invalidThreshold`` (threshold > -1, status not
  TERMINATED, not already finished)                    — Tracker.scala:153-162
- FAILED  when ``valid+invalid > expectedRecordCount`` (status
  SEND_COMPLETED, not finished)                        — Tracker.scala:141-151
- COMPLETED via timer at ``lastModified + timeout`` when status
  SEND_COMPLETED and ``valid+invalid == expectedRecordCount``
                                                       — Tracker.scala:93-103,116-120,129-139
- at most ONE terminal notification per batch (isFinished flag)
                                                       — Tracker.scala:187-194

Three implementations; the first two share one sequential fold, the
``BatchTrackerState`` transitions (``on_count`` /
``feed_counts_vectorized``, ``on_notification``, and the timer's
``_is_complete`` re-check):

1. ``TrackerSimulator`` — deterministic, clock-injected; ports the
   reference's operator-test-harness tier (TrackerTest.scala) 1:1.
2. ``streaming_tracker`` — Structured Streaming
   ``applyInPandasWithState`` with ProcessingTimeTimeout; the per-group
   pandas fold is the same code.
3. ``track_batches_batch`` — batch-mode relational equivalent on *final*
   counts (pure groupBy/agg + CASE), used as the DuckDB-oracle anchor.
   Where arrival order matters (fire-time counter snapshots) the batch
   form reports final counts; equivalence tests use order-insensitive
   scenarios.

Scale notes: count events arrive one per validated record — at 100 TB that
is the full record volume. The streaming path therefore (a) keys by
batchId so state is O(#batches) and (b) folds each micro-batch group with
numpy cumulative sums rather than a Python per-row loop. Its shuffle stays
one row per count event: the exact ``== invalidThreshold`` check depends
on arrival order, so the streaming path does not pre-aggregate.
``pre_aggregate_counts`` (one row per batchId) serves only the batch-mode
``track_batches_batch``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import Status

DEFAULT_TIMEOUT_MS = 300_000  # BaseValidationJob.scala:53
STATE_TTL_MS = 7 * 24 * 3600 * 1000  # BaseValidationJob.scala:352-359


def fail_threshold_msg(batch_id: str, invalid: int, threshold: int) -> str:
    # Tracker.scala:113
    return (
        f"Failing Batch: {batch_id}, too many invalid records invalidCount: "
        f"{invalid} == invalidThreshold: {threshold}"
    )


def fail_overflow_msg(batch_id: str, actual: int, expected: int) -> str:
    # Tracker.scala:122
    return (
        f"Failing batch: {batch_id}, received too many records, "
        f"actualRecordCount: {actual} > expectedRecordCount: {expected}"
    )


@dataclass
class BatchTrackerState:
    """BatchState + the reference's transition logic, clock-injected."""

    valid: int = 0
    invalid: int = 0
    is_finished: bool = False
    last_modified: int = 0
    notification: Optional[dict] = None
    timeout_ms: int = DEFAULT_TIMEOUT_MS
    # pending completion-timer deadlines (Tracker registers one per
    # complete-check; onTimer re-verifies, so duplicates are harmless)
    timers: list = field(default_factory=list)
    outputs: list = field(default_factory=list)

    # --- predicates (Tracker.scala:129-162) --------------------------------
    def _too_many_invalid(self) -> bool:
        n = self.notification
        if n is None:
            return False
        threshold = n.get("invalidThreshold")
        return (
            threshold is not None
            and threshold > -1
            and n.get("status") != Status.TERMINATED
            and not self.is_finished
            and self.invalid == threshold
        )

    def _is_complete(self) -> bool:
        n = self.notification
        return (
            n is not None
            and n.get("status") == Status.SEND_COMPLETED
            and not self.is_finished
            and self.valid + self.invalid == (n.get("expectedRecordCount") or 0)
        )

    def _overflow(self) -> bool:
        n = self.notification
        return (
            n is not None
            and n.get("status") == Status.SEND_COMPLETED
            and not self.is_finished
            and self.valid + self.invalid > (n.get("expectedRecordCount") or 0)
        )

    def _emit(self, status: str, msg: Optional[str]) -> None:
        # at-most-once terminal output (Tracker.scala:187-194)
        if self.is_finished or self.notification is None:
            return
        out = dict(self.notification)
        out["status"] = status
        out["actualRecordCount"] = self.valid + self.invalid
        out["invalidRecordCount"] = self.invalid
        if msg is not None:
            out["failureMessage"] = msg
        self.is_finished = True
        self.outputs.append(out)

    def _status_check(self) -> None:
        # batchStatusCheck precedence (Tracker.scala:105-127)
        n = self.notification
        if n is None:
            return
        if self._too_many_invalid():
            self._emit(
                Status.FAILED,
                fail_threshold_msg(n.get("id"), self.invalid, n["invalidThreshold"]),
            )
        elif self._is_complete():
            self.timers.append(self.last_modified + self.timeout_ms)
        elif self._overflow():
            self._emit(
                Status.FAILED,
                fail_overflow_msg(
                    n.get("id"),
                    self.valid + self.invalid,
                    n.get("expectedRecordCount") or 0,
                ),
            )

    # --- event entry points -------------------------------------------------
    def on_count(self, is_valid: bool, now_ms: int) -> None:
        """processElement1 (Tracker.scala:48-69)."""
        if is_valid:
            self.valid += 1
        else:
            self.invalid += 1
        self.last_modified = now_ms
        self._status_check()

    def on_notification(self, notification: dict, now_ms: int) -> None:
        """processElement2 (Tracker.scala:72-90) — counters survive a
        notification update; notification is last-write-wins."""
        self.notification = dict(notification)
        self.last_modified = now_ms
        self._status_check()

    def on_timer(self, now_ms: int) -> None:
        """onTimer (Tracker.scala:93-103): fire due timers; each re-checks
        completeness against the *current* counters."""
        due = [t for t in self.timers if t <= now_ms]
        self.timers = [t for t in self.timers if t > now_ms]
        for _ in due:
            if self._is_complete():
                self._emit(Status.COMPLETED, None)

    def feed_counts_vectorized(self, is_valid: np.ndarray, now_ms: int) -> None:
        """Fold a run of count events (no interleaved notification) in one
        vectorized step — the micro-batch hot path.

        Terminal conditions can only *first* trigger at a prefix boundary,
        found via cumulative sums instead of a per-row Python loop.
        """
        if len(is_valid) == 0:
            return
        n = self.notification
        cum_invalid = np.cumsum(~is_valid) + self.invalid
        cum_total = np.arange(1, len(is_valid) + 1) + self.valid + self.invalid

        # first element index at which each terminal predicate would fire;
        # the reference checks threshold BEFORE overflow at every element
        # (Tracker.scala:112-125), so on the same element threshold wins,
        # otherwise whichever happens first in arrival order wins.
        thr_idx = None
        ovf_idx = None
        if n is not None and not self.is_finished:
            threshold = n.get("invalidThreshold")
            if (
                threshold is not None
                and threshold > -1
                and n.get("status") != Status.TERMINATED
            ):
                hits = np.nonzero(cum_invalid == threshold)[0]
                # == semantics: only the first arrival at the threshold fires
                if len(hits) and (not is_valid[hits[0]] or self.invalid == threshold):
                    thr_idx = int(hits[0])
            if n.get("status") == Status.SEND_COMPLETED:
                expected = n.get("expectedRecordCount") or 0
                over = np.nonzero(cum_total > expected)[0]
                if len(over):
                    ovf_idx = int(over[0])
        fire_idx, fire_kind = None, None
        if thr_idx is not None and (ovf_idx is None or thr_idx <= ovf_idx):
            fire_idx, fire_kind = thr_idx, "threshold"
        elif ovf_idx is not None:
            fire_idx, fire_kind = ovf_idx, "overflow"

        if fire_idx is not None:
            # advance counters to the firing point, emit, then absorb the rest
            head = is_valid[: fire_idx + 1]
            self.valid += int(head.sum())
            self.invalid += int((~head).sum())
            self.last_modified = now_ms
            if fire_kind == "threshold":
                self._emit(
                    Status.FAILED,
                    fail_threshold_msg(n.get("id"), self.invalid, n["invalidThreshold"]),
                )
            else:
                self._emit(
                    Status.FAILED,
                    fail_overflow_msg(
                        n.get("id"),
                        self.valid + self.invalid,
                        n.get("expectedRecordCount") or 0,
                    ),
                )
            tail = is_valid[fire_idx + 1 :]
            self.valid += int(tail.sum())
            self.invalid += int((~tail).sum())
        else:
            self.valid += int(is_valid.sum())
            self.invalid += int((~is_valid).sum())
            self.last_modified = now_ms
            self._status_check()


class TrackerSimulator:
    """Deterministic single-node tracker for scenario tests — the analogue
    of the reference's KeyedCoProcessFunction test harness with manual
    processing-time advance (TrackerTest.scala:46-47,203)."""

    def __init__(self, timeout_ms: int = DEFAULT_TIMEOUT_MS):
        self.timeout_ms = timeout_ms
        self.states: dict[str, BatchTrackerState] = {}
        self.now_ms = 0

    def _state(self, batch_id: str) -> BatchTrackerState:
        return self.states.setdefault(batch_id, BatchTrackerState(timeout_ms=self.timeout_ms))

    def send_count(self, batch_id: str, is_valid: bool) -> None:
        self._state(batch_id).on_count(is_valid, self.now_ms)

    def send_notification(self, notification: dict) -> None:
        self._state(notification["id"]).on_notification(notification, self.now_ms)

    def set_processing_time(self, now_ms: int) -> None:
        self.now_ms = now_ms
        for st in self.states.values():
            st.on_timer(now_ms)

    def outputs(self, batch_id: Optional[str] = None) -> list:
        if batch_id is not None:
            return list(self.states[batch_id].outputs) if batch_id in self.states else []
        out = []
        for st in self.states.values():
            out.extend(st.outputs)
        return out


# ---------------------------------------------------------------------------
# Batch-mode relational tracker (oracle anchor)
# ---------------------------------------------------------------------------

def pre_aggregate_counts(counts: DataFrame) -> DataFrame:
    """Map-side shrink of the count-event stream: one row per batchId with
    (valid, invalid) partial sums. At scale this turns an O(records)
    shuffle into O(#batches) — the Spark analogue of the reference's
    'tracker parallelism = N/4, computation is minimal' observation."""
    return counts.groupBy("batchId").agg(
        F.sum(F.when(F.col("isValid"), 1).otherwise(0)).alias("valid"),
        F.sum(F.when(~F.col("isValid"), 1).otherwise(0)).alias("invalid"),
    )


def track_batches_batch(
    counts: DataFrame,
    notifications: DataFrame,
    notification_seq_col: str = "offset",
) -> DataFrame:
    """Batch-mode tracker on final counts (SQL-expressible; see module
    docstring for the ordering caveat). Returns one row per batch that
    reaches a terminal decision:

      (batchId, status, actualRecordCount, invalidRecordCount,
       failureMessage)
    """
    from .validation import latest_notifications

    agg = pre_aggregate_counts(counts)
    dim = latest_notifications(notifications, notification_seq_col).select(
        F.col("id").alias("batchId"),
        F.col("status").alias("last_status"),
        "expectedRecordCount",
        "invalidThreshold",
    )
    # outer join: a batch can terminate with zero count events
    # (threshold 0) and counts can exist for batches we never saw
    # notifications for (tracker holds them forever; no output).
    joined = agg.join(F.broadcast(dim), "batchId", "full_outer").select(
        "batchId",
        F.coalesce(F.col("valid"), F.lit(0)).alias("valid"),
        F.coalesce(F.col("invalid"), F.lit(0)).alias("invalid"),
        "last_status",
        "expectedRecordCount",
        "invalidThreshold",
    )
    total = F.col("valid") + F.col("invalid")
    threshold_fail = (
        F.col("invalidThreshold").isNotNull()
        & (F.col("invalidThreshold") > -1)
        & (F.col("last_status") != Status.TERMINATED)
        & (F.col("invalid") >= F.col("invalidThreshold"))
    )
    overflow_fail = (F.col("last_status") == Status.SEND_COMPLETED) & (
        total > F.col("expectedRecordCount")
    )
    complete = (F.col("last_status") == Status.SEND_COMPLETED) & (
        total == F.col("expectedRecordCount")
    )
    return (
        joined.withColumn(
            "status",
            F.when(threshold_fail, F.lit(Status.FAILED))
            .when(overflow_fail, F.lit(Status.FAILED))
            .when(complete, F.lit(Status.COMPLETED)),
        )
        .filter(F.col("status").isNotNull())
        .select(
            "batchId",
            "status",
            total.cast("int").alias("actualRecordCount"),
            F.col("invalid").cast("int").alias("invalidRecordCount"),
            F.when(
                threshold_fail,
                F.concat(
                    F.lit("Failing Batch: "),
                    F.col("batchId"),
                    F.lit(", too many invalid records invalidCount: "),
                    F.col("invalid").cast("string"),
                    F.lit(" == invalidThreshold: "),
                    F.col("invalidThreshold").cast("string"),
                ),
            )
            .when(
                overflow_fail,
                F.concat(
                    F.lit("Failing batch: "),
                    F.col("batchId"),
                    F.lit(", received too many records, actualRecordCount: "),
                    total.cast("string"),
                    F.lit(" > expectedRecordCount: "),
                    F.col("expectedRecordCount").cast("string"),
                ),
            )
            .alias("failureMessage"),
        )
    )
