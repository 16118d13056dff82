"""Seeded workload plans: the records and notifications a round publishes,
and the outcome the reference semantics prescribe for each of them.

The plan is the correctness oracle. It is written from the reference's
routing rules (ValidationProcessFunction.scala:84-158) and tracker
transitions (Tracker.scala:105-194), never from a copy of the program's
output:

- a record is routed OUT (valid), INVALID (with an exact failure string)
  or DROP (terminated/failed batch) — see ``Plan.route``;
- a batch ends with at most one terminal Mgmt-API call whose action and
  counts follow from its notification and its records.

Operation counts are seed-independent: the seed only changes payload
bytes, which records are malformed and which batch gets which size, so
every run attempts the same number of batches and records.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np

# Exact error strings of the reference (ValidationProcessFunction.scala:42-45)
ERR_MISSING = "Bad Message - No header or batchId node"
ERR_UNKNOWN = "Bad Message - Unknown batchId"
ERR_COMPLETED = "Bad Message - batchId is already completed"
# json_validator's message (jobtest/JsonValidationJob.scala:76-94 parity)
JSON_ERR_PREFIX = "Invalid JSON: unable to parse record value: "

OUT, INVALID, DROP = "out", "invalid", "drop"

# batch kinds
COMPLETE = "complete"        # sendCompleted, exact count -> processingComplete
THRESHOLD = "threshold"      # invalid count reaches invalidThreshold -> fail
OVERFLOW = "overflow"        # more records than expectedRecordCount -> fail
TERMINATED = "terminated"    # status terminated: records silently dropped
COMPLETED = "completed"      # status completed: records invalid, no count
UNKNOWN = "unknown"          # no notification anywhere: records invalid
LATE = "late"                # notification published after its records
PREROLL = "preroll"          # a complete batch run through fresh queries
                             # before the timed backlog
MISSING = "missing-header"   # pseudo-batch of records without batchId header

def record_hash(key: bytes | None, value: bytes | None, headers) -> int:
    """64-bit identity of a delivered record: key, value and headers.
    Shared by the plan and the stand-in broker, so a delivered record
    matches its planned one byte for byte."""
    h = hashlib.blake2b(digest_size=8)
    h.update(key or b"")
    h.update(b"\x00")
    h.update(value or b"")
    for k, v in headers or ():
        h.update(b"\x00" + k.encode() + b"=" + (v or b""))
    return int.from_bytes(h.digest(), "little")


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
class Batch:
    id: str
    kind: str
    n_records: int
    n_malformed: int
    expected: int | None = None
    threshold: int | None = None
    # (action, actualRecordCount or None when order-dependent,
    #  invalidRecordCount, failureMessage or None)
    terminal: tuple | None = None

    def notification(self, topic: str, status: str) -> dict:
        n = {
            "id": self.id,
            "name": f"bench-{self.id}",
            "topic": topic,
            "dataType": "claims",
            "status": status,
            "startDate": "2026-01-01T00:00:00Z",
            "invalidThreshold": self.threshold if self.threshold is not None else -1,
            "metadata": {"source": "pipebench"},
        }
        if status != "started":
            n["expectedRecordCount"] = self.expected
        return n


@dataclass
class Records:
    """Columnar record plan. ``batch`` is the batch id whose header a
    record carries (None: no batchId header); ``owner`` indexes
    ``Plan.batches`` (the missing-header pseudo-batch included)."""

    key: list = field(default_factory=list)
    value: list = field(default_factory=list)
    batch: list = field(default_factory=list)
    owner: list = field(default_factory=list)
    malformed: list = field(default_factory=list)
    file: list = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.key)


@dataclass
class Plan:
    batches: list
    records: Records
    # notification status each batch carries before the backlog is
    # published (batches absent here get theirs later or never)
    pre_status: dict
    late: list  # indexes of late-metadata batches

    def route(self, i: int) -> tuple[str, str | None]:
        """Expected (route, failure string) of record ``i``."""
        b = self.batches[self.records.owner[i]]
        if b.kind == MISSING:
            return INVALID, ERR_MISSING
        if b.kind == UNKNOWN:
            return INVALID, ERR_UNKNOWN
        if b.kind == TERMINATED:
            return DROP, None
        if b.kind == COMPLETED:
            return INVALID, ERR_COMPLETED
        if self.records.malformed[i]:
            text = self.records.value[i].decode()
            return INVALID, JSON_ERR_PREFIX + text[:120]
        return OUT, None


# --------------------------------------------------------------------------
# payloads
# --------------------------------------------------------------------------

_CODES = [
    ("8867-4", "Heart rate"), ("8310-5", "Body temperature"),
    ("2339-0", "Glucose"), ("8480-6", "Systolic blood pressure"),
    ("8462-4", "Diastolic blood pressure"), ("29463-7", "Body weight"),
    ("39156-5", "Body mass index"), ("2093-3", "Cholesterol"),
]


class PayloadFactory:
    """FHIR-like Observation JSON of a requested size (ASCII only, so the
    validator's 120-character error prefix equals the first 120 bytes)."""

    def __init__(self, rng: np.random.Generator):
        self.components = []
        for j in range(64):
            code, name = _CODES[j % len(_CODES)]
            val = float(rng.uniform(1, 300))
            self.components.append(
                '{"code":{"coding":[{"system":"http://loinc.org","code":"%s",'
                '"display":"%s"}]},"valueQuantity":{"value":%.2f,"unit":"u%d"}}'
                % (code, name, val, j)
            )

    def make(self, rid: str, n_components: int, first: int) -> bytes:
        comps = ",".join(
            self.components[(first + j) % 64] for j in range(n_components)
        )
        return (
            '{"resourceType":"Observation","id":"%s","status":"final",'
            '"subject":{"reference":"Patient/%s"},'
            '"effectiveDateTime":"2026-01-01T00:00:00Z","component":[%s]}'
            % (rid, rid, comps)
        ).encode()


def _malform(value: bytes, rng: np.random.Generator) -> bytes:
    # any proper prefix of a JSON object is malformed: its brace never closes
    cut = int(rng.integers(1, len(value)))
    return value[:cut]


def _fill(recs: Records, rng, pf, batch: Batch, owner: int, sizes,
          malformed_idx: set, tag: str, header: bool) -> list[int]:
    idx = []
    for j in range(batch.n_records):
        rid = f"{tag}-{owner}-{j}"
        value = pf.make(rid, int(sizes[j]), int(rng.integers(0, 64)))
        bad = j in malformed_idx
        if bad:
            value = _malform(value, rng)
        idx.append(len(recs))
        recs.key.append(rid.encode())
        recs.value.append(value)
        recs.batch.append(batch.id if header else None)
        recs.owner.append(owner)
        recs.malformed.append(bad)
        recs.file.append(-1)
    return idx


def _malformed_positions(rng, n: int, k: int) -> set:
    return set(int(x) for x in rng.choice(n, size=k, replace=False)) if k else set()


def _terminal(b: Batch) -> tuple | None:
    if b.kind in (COMPLETE, LATE, PREROLL):
        return ("processingComplete", b.n_records, b.n_malformed, None)
    if b.kind == THRESHOLD:
        return ("fail", None, b.threshold,
                fail_threshold_msg(b.id, b.threshold, b.threshold))
    if b.kind == OVERFLOW:
        return ("fail", b.expected + 1, 0,
                fail_overflow_msg(b.id, b.expected + 1, b.expected))
    return None


def _add_preroll(recs: Records, rng, pf, batches: list, sizes) -> None:
    """One complete batch in its own file (index -1). A round sends it
    through its fresh queries before the timed backlog, so the backlog's
    first micro-batch is not the queries' first one."""
    n, k = len(sizes), max(1, len(sizes) // 50)
    b = Batch("preroll", PREROLL, n, k, expected=n, threshold=n + 1)
    b.terminal = _terminal(b)
    idx = _fill(recs, rng, pf, b, len(batches), sizes,
                _malformed_positions(rng, n, k), "pre", True)
    for i in idx:
        recs.file[i] = -1
    batches.append(b)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class BulkShape:
    n_batches: int = 80
    n_records: int = 15_000
    malformed_share: float = 0.02
    n_files: int = 15
    # log-normal payload size: median ~2 KB, clipped to 0.6-7 KB
    comp_median: float = 14.0
    comp_sigma: float = 0.5


def bulk_plan(seed: int, shape: BulkShape = BulkShape()) -> Plan:
    rng = np.random.default_rng(seed)
    pf = PayloadFactory(rng)
    per = shape.n_records // shape.n_batches
    recs = Records()
    batches = []
    for i in range(shape.n_batches):
        k = round(per * shape.malformed_share)
        b = Batch(f"bulk-{i:04d}", COMPLETE, per, k, expected=per,
                  threshold=per + 1)
        b.terminal = _terminal(b)
        sizes = np.clip(
            rng.lognormal(np.log(shape.comp_median), shape.comp_sigma, per),
            4, 50,
        ).round()
        _fill(recs, rng, pf, b, i, sizes, _malformed_positions(rng, per, k),
              "bulk", True)
        batches.append(b)
    # spread every batch's records over all files (a backlog interleaves
    # concurrent batches), balanced file sizes
    order = rng.permutation(len(recs))
    for pos, i in enumerate(order):
        recs.file[i] = pos % shape.n_files
    _add_preroll(recs, rng, pf, batches, np.full(200, round(shape.comp_median)))
    return Plan(batches, recs, {b.id: "sendCompleted" for b in batches}, [])


@dataclass(frozen=True)
class SmallShape:
    complete: int = 430
    threshold: int = 60
    overflow: int = 30
    terminated: int = 20
    completed: int = 20
    unknown: int = 20
    late: int = 20
    late_records: int = 20
    missing_header_records: int = 150
    min_records: int = 10
    max_records: int = 40
    invalid_share: float = 0.3
    n_files: int = 14  # plus one file holding the late-metadata batches
    comp: int = 1  # ~100-byte payloads


def small_plan(seed: int, shape: SmallShape = SmallShape()) -> Plan:
    rng = np.random.default_rng(seed)
    pf = PayloadFactory(rng)
    kinds = (
        [COMPLETE] * shape.complete + [THRESHOLD] * shape.threshold
        + [OVERFLOW] * shape.overflow + [TERMINATED] * shape.terminated
        + [COMPLETED] * shape.completed + [UNKNOWN] * shape.unknown
    )
    span = shape.max_records - shape.min_records + 1
    sizes = [shape.min_records + (i * 7) % span for i in range(len(kinds))]
    # the seed decides which batch gets which size, never the totals
    sizes = [sizes[i] for i in rng.permutation(len(sizes))]
    batches: list[Batch] = []
    for i, (kind, n) in enumerate(zip(kinds, sizes)):
        k = int(n * shape.invalid_share)
        b = Batch(f"small-{i:05d}", kind, n, k, expected=n, threshold=n + 1)
        if kind == THRESHOLD:
            b.threshold = max(1, k - 2)
        elif kind == OVERFLOW:
            b.n_malformed = 0  # all valid: invalidRecordCount at firing is 0
            b.expected = n - 1 - i % 3
        b.terminal = _terminal(b)
        batches.append(b)
    late = []
    for j in range(shape.late):
        k = int(shape.late_records * shape.invalid_share)
        b = Batch(f"late-{j:04d}", LATE, shape.late_records, k,
                  expected=shape.late_records, threshold=shape.late_records + 1)
        b.terminal = _terminal(b)
        late.append(len(batches))
        batches.append(b)
    missing = Batch("", MISSING, shape.missing_header_records, 0)
    batches.append(missing)

    recs = Records()
    groups = []  # record index lists, one per batch (missing: chunks)
    for owner, b in enumerate(batches):
        comp = np.full(b.n_records, shape.comp)
        idx = _fill(recs, rng, pf, b, owner, comp,
                    _malformed_positions(rng, b.n_records, b.n_malformed),
                    "small", b.kind != MISSING)
        if b.kind == MISSING:
            groups.extend(idx[c:c + 10] for c in range(0, len(idx), 10))
        elif b.kind != LATE:
            groups.append(idx)
    # late-metadata batches fill the first files so that, resolved by a
    # lookup, they finish long before the drain ends; every other batch
    # keeps its records together in one file
    late_idx = [i for li in late for i in range(len(recs)) if recs.owner[i] == li]
    order = [groups[g] for g in rng.permutation(len(groups))]
    for i in late_idx:
        recs.file[i] = 0
    per_file = -(-len(order) // shape.n_files)
    for g, idx in enumerate(order):
        for i in idx:
            recs.file[i] = 1 + g // per_file
    _add_preroll(recs, rng, pf, batches, np.full(200, shape.comp))
    pre = {b.id: "sendCompleted" for b in batches
           if b.kind in (COMPLETE, THRESHOLD, OVERFLOW, PREROLL)}
    pre.update({b.id: "terminated" for b in batches if b.kind == TERMINATED})
    pre.update({b.id: "completed" for b in batches if b.kind == COMPLETED})
    return Plan(batches, recs, pre, late)


def notification_json(b: Batch, topic: str, status: str) -> bytes:
    return json.dumps(b.notification(topic, status)).encode()
