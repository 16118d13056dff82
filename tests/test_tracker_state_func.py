"""The applyInPandasWithState shell of the streaming tracker
(streaming/tracker_stream.make_tracker_func), driven directly through a
fake GroupState with a manual clock — the reference's
KeyedCoProcessFunction harness idiom (TrackerTest.scala:46-47,203).

The transition rules themselves are covered by test_tracker_scenarios.py;
these tests pin what only the shell does: state (de)hydration across
invocations, which timeout it arms, the timed-out branch's re-check and
emit, and TTL eviction.
"""

import json

import pandas as pd

from hri_flink_pipeline_core_spark.schemas import Status
from hri_flink_pipeline_core_spark.streaming.tracker_stream import (
    KIND_COUNT,
    KIND_NOTIFICATION,
    TRACKER_INPUT_SCHEMA,
    make_tracker_func,
)

BATCH = "b1"
TIMEOUT_MS = 1_000
TTL_MS = 10_000


class FakeGroupState:
    """The slice of pyspark's GroupState the tracker function uses."""

    def __init__(self):
        self.value = None
        self.now = 0
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def getCurrentProcessingTimeMs(self):
        return self.now

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


class Harness:
    def __init__(self):
        self.track = make_tracker_func(timeout_ms=TIMEOUT_MS, ttl_ms=TTL_MS)
        self.state = FakeGroupState()
        self.outputs = []

    def _invoke(self, now, pdfs, timed_out):
        # Spark clears the timeout on every call; the function must re-arm.
        self.state.now = now
        self.state.hasTimedOut = timed_out
        self.state.timeout_ms = None
        for out in self.track((BATCH,), iter(pdfs), self.state):
            self.outputs.extend(out.to_dict("records"))

    def feed(self, now, rows):
        pdf = pd.DataFrame(rows, columns=TRACKER_INPUT_SCHEMA.names)
        self._invoke(now, [pdf], timed_out=False)

    def time_out(self, now):
        # a timed-out group is called with no rows
        self._invoke(now, [], timed_out=True)


def notif(expected=2, threshold=5, seq=0):
    return {
        "batchId": BATCH,
        "kind": KIND_NOTIFICATION,
        "isValid": None,
        "notification": json.dumps(
            {
                "id": BATCH,
                "status": Status.SEND_COMPLETED,
                "expectedRecordCount": expected,
                "invalidThreshold": threshold,
                "dataType": "claims",
            }
        ),
        "seq": seq,
    }


def count(is_valid, seq):
    return {
        "batchId": BATCH,
        "kind": KIND_COUNT,
        "isValid": is_valid,
        "notification": None,
        "seq": seq,
    }


def test_timeout_is_delay_when_complete_else_ttl():
    h = Harness()
    h.feed(0, [notif(expected=2), count(True, 1)])
    assert h.state.timeout_ms == TTL_MS  # incomplete: only the TTL sweep
    h.feed(100, [count(False, 2)])
    assert h.state.timeout_ms == TIMEOUT_MS  # complete: completion timer
    assert h.outputs == []
    # the state round-trips between invocations
    valid, invalid, is_finished, last_modified, notif_json = h.state.value
    assert (valid, invalid, is_finished, last_modified) == (1, 1, False, 100)
    assert json.loads(notif_json)["expectedRecordCount"] == 2


def test_failed_batch_arms_ttl_sweep():
    h = Harness()
    h.feed(0, [notif(expected=100, threshold=1), count(False, 1)])
    (o,) = h.outputs
    assert o["status"] == Status.FAILED
    assert h.state.timeout_ms == TTL_MS  # finished is not complete


def test_ttl_eviction_removes_idle_state():
    h = Harness()
    h.feed(0, [notif(expected=5), count(True, 1)])
    h.time_out(TTL_MS)  # not yet idle for MORE than the TTL
    assert h.state.exists
    assert h.state.timeout_ms == TTL_MS  # parked state re-arms the sweep
    h.time_out(TTL_MS + 1)
    assert not h.state.exists
    assert h.outputs == []


def test_timed_out_complete_batch_emits_completed_once():
    h = Harness()
    h.feed(0, [notif(expected=2)])
    h.feed(100, [count(True, 1), count(False, 2)])
    h.time_out(100 + TIMEOUT_MS + 1)
    (o,) = h.outputs
    assert o["batchId"] == BATCH
    assert o["status"] == Status.COMPLETED
    assert o["actualRecordCount"] == 2
    assert o["invalidRecordCount"] == 1
    assert o["failureMessage"] is None
    assert json.loads(o["notification"])["status"] == Status.COMPLETED
    assert h.state.value[2] is True  # isFinished persisted
    # neither a second timer fire nor a late record emits again
    h.time_out(100 + 2 * TIMEOUT_MS + 1)
    h.feed(100 + 2 * TIMEOUT_MS + 2, [count(True, 3)])
    assert len(h.outputs) == 1


def test_timer_completed_batch_is_evicted_by_ttl_sweep():
    """A batch that completes by timer keeps its state only until the
    TTL sweep: the timed-out call re-arms ``ttl_ms``, and the sweep's
    later timeout removes the finished state."""
    h = Harness()
    h.feed(0, [notif(expected=2), count(True, 1), count(False, 2)])
    h.time_out(TIMEOUT_MS + 1)
    (o,) = h.outputs
    assert o["status"] == Status.COMPLETED
    assert h.state.timeout_ms == TTL_MS
    h.time_out(TIMEOUT_MS + 1 + TTL_MS)
    assert not h.state.exists
    assert len(h.outputs) == 1
