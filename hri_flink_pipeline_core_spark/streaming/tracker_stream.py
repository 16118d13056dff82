"""Structured-Streaming batch tracker (the reference's keyed two-input
stateful operator, Tracker.scala:32-196).

Spark-first mapping (SURVEY.md §2 #9):

- the two keyed input streams (count events, notifications) become ONE
  union with a ``kind`` tag — Spark's stateful ops take a single keyed
  stream, and a tagged union is exactly what Flink's ``connect`` builds
  internally;
- ``ValueState[BatchState]`` + processing-time timer becomes
  ``applyInPandasWithState`` with ``GroupStateTimeout.ProcessingTimeTimeout``;
  the per-key state tuple carries (valid, invalid, isFinished,
  lastModified, notification JSON);
- the reference re-arms its completion timer from ``lastModified`` on
  every element (Tracker.scala:118); ``state.setTimeoutDuration`` has the
  same effect because it re-arms at *now* on every invocation that sees
  data for the key, and ``lastModified == now`` after a fold;
- the timer's re-check-then-emit (Tracker.scala:93-103) is the
  ``state.hasTimedOut`` branch;
- state TTL 7 d (BaseValidationJob.scala:352-359) is enforced by
  dropping state whose ``lastModified`` is older than the TTL at
  timeout/park time.

The sequential transition logic is shared with the batch and simulator
paths (operators/tracker.py ``BatchTrackerState``) — one implementation
of the predicates, three execution harnesses.

Scale notes: the shuffle into this operator is keyed by batchId, so
state is O(#batches), not O(#records). Count events are folded with the
vectorized numpy path (no per-row Python loop). The shuffle itself still
carries one row per count event: there is no streaming pre-aggregation
(``pre_aggregate_counts`` serves only the batch-mode
``track_batches_batch``), because the exact ==-threshold check depends on
arrival order.
"""

from __future__ import annotations

import json
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.tracker import DEFAULT_TIMEOUT_MS, STATE_TTL_MS, BatchTrackerState
from ..schemas import Status

KIND_COUNT = "count"
KIND_NOTIFICATION = "notif"

# Unified keyed-input row (the tagged union of the two streams).
TRACKER_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("batchId", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("isValid", T.BooleanType(), True),
        T.StructField("notification", T.StringType(), True),  # JSON
        T.StructField("seq", T.LongType(), True),  # arrival order
    ]
)

# Terminal-notification output (merged BatchNotification as JSON for the
# loopback sink + the flat fields the Mgmt-API sink needs).
TRACKER_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("batchId", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("actualRecordCount", T.IntegerType(), True),
        T.StructField("invalidRecordCount", T.IntegerType(), True),
        T.StructField("failureMessage", T.StringType(), True),
        T.StructField("notification", T.StringType(), True),  # merged JSON
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("valid", T.LongType(), True),
        T.StructField("invalid", T.LongType(), True),
        T.StructField("isFinished", T.BooleanType(), True),
        T.StructField("lastModified", T.LongType(), True),
        T.StructField("notification", T.StringType(), True),  # JSON
    ]
)


def tag_counts(counts: DataFrame, seq_col: Optional[str] = None) -> DataFrame:
    """(batchId, isValid) -> tagged union rows. Without a seq column the
    seq is NULL, which the per-group fold sorts LAST — notifications in
    the same micro-batch are applied before unordered counts (the
    reference's metadata-before-data design, BaseValidationJob.scala:79-81).
    monotonically_increasing_id is not streaming-safe, so no default id."""
    seq = (
        F.col(seq_col).cast("long") if seq_col else F.lit(None).cast("long")
    )
    return counts.select(
        F.col("batchId"),
        F.lit(KIND_COUNT).alias("kind"),
        F.col("isValid"),
        F.lit(None).cast("string").alias("notification"),
        seq.alias("seq"),
    )


def tag_notifications(notifications: DataFrame, seq_col: str = "offset") -> DataFrame:
    """BatchNotification rows -> tagged union rows (JSON-encoded payload so
    the union schema stays flat)."""
    cols = [c for c in notifications.columns if c != seq_col]
    return notifications.select(
        F.col("id").alias("batchId"),
        F.lit(KIND_NOTIFICATION).alias("kind"),
        F.lit(None).cast("boolean").alias("isValid"),
        F.to_json(F.struct(*cols)).alias("notification"),
        F.col(seq_col).cast("long").alias("seq"),
    )


def _outputs_to_pdf(outputs: list[dict]) -> pd.DataFrame:
    rows = []
    for out in outputs:
        rows.append(
            {
                "batchId": out.get("id"),
                "status": out.get("status"),
                "actualRecordCount": out.get("actualRecordCount"),
                "invalidRecordCount": out.get("invalidRecordCount"),
                "failureMessage": out.get("failureMessage"),
                "notification": json.dumps(out, ensure_ascii=False, default=str),
            }
        )
    return pd.DataFrame(
        rows,
        columns=[
            "batchId",
            "status",
            "actualRecordCount",
            "invalidRecordCount",
            "failureMessage",
            "notification",
        ],
    )


def _state_row(st: BatchTrackerState) -> tuple:
    """BatchTrackerState -> one STATE_SCHEMA row."""
    return (
        st.valid,
        st.invalid,
        st.is_finished,
        st.last_modified,
        json.dumps(st.notification) if st.notification else None,
    )


def make_tracker_func(timeout_ms: int = DEFAULT_TIMEOUT_MS, ttl_ms: int = STATE_TTL_MS):
    """Build the applyInPandasWithState function closure."""

    def track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (batch_id,) = key
        now_ms = state.getCurrentProcessingTimeMs()

        st = BatchTrackerState(timeout_ms=timeout_ms)
        if state.exists:
            valid, invalid, is_finished, last_modified, notif_json = state.get
            st.valid = int(valid or 0)
            st.invalid = int(invalid or 0)
            st.is_finished = bool(is_finished)
            st.last_modified = int(last_modified or 0)
            st.notification = json.loads(notif_json) if notif_json else None

        if state.hasTimedOut:
            # onTimer (Tracker.scala:93-103): re-verify completeness with
            # current counters, then emit at most once.
            if now_ms - st.last_modified > ttl_ms:
                state.remove()  # TTL eviction
                return
            if st._is_complete():
                st._emit(Status.COMPLETED, None)
            state.update(_state_row(st))
            # Spark clears the timeout on every call: re-arm the TTL
            # sweep, or this state (finished or parked) is never evicted.
            state.setTimeoutDuration(ttl_ms)
            if st.outputs:
                yield _outputs_to_pdf(st.outputs)
            return

        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("seq", kind="stable")

        # fold: runs of counts go through the vectorized path, interleaved
        # notifications through on_notification, in arrival order.
        kinds = pdf["kind"].to_numpy()
        is_notif = kinds == KIND_NOTIFICATION
        boundaries = np.flatnonzero(np.diff(is_notif.astype(np.int8)) != 0) + 1
        start = 0
        for end in list(boundaries) + [len(pdf)]:
            if end == start:
                continue
            chunk = pdf.iloc[start:end]
            if is_notif[start]:
                for nj in chunk["notification"]:
                    st.on_notification(json.loads(nj), now_ms)
            else:
                st.feed_counts_vectorized(
                    chunk["isValid"].to_numpy(dtype=bool), now_ms
                )
            start = end

        state.update(_state_row(st))
        # arm/re-arm the completion timer from the latest activity
        # (Tracker.scala:116-120); also arm a TTL sweep for parked state.
        if st._is_complete():
            state.setTimeoutDuration(timeout_ms)
        else:
            state.setTimeoutDuration(ttl_ms)
        if st.outputs:
            yield _outputs_to_pdf(st.outputs)

    return track


def streaming_tracker(
    tagged: DataFrame,
    timeout_ms: int = DEFAULT_TIMEOUT_MS,
    ttl_ms: int = STATE_TTL_MS,
) -> DataFrame:
    """Keyed stateful tracker over the tagged union stream. Works on both
    streaming and batch DataFrames (batch runs one mega-group per key —
    useful in tests)."""
    return tagged.groupBy("batchId").applyInPandasWithState(
        make_tracker_func(timeout_ms=timeout_ms, ttl_ms=ttl_ms),
        outputStructType=TRACKER_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
