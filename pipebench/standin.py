"""Stand-in broker: a picklable producer factory for the transactional
writers (sinks/kafka_tx.py) that does no network I/O.

Each committed transaction leaves one ledger file holding its commit time
(CLOCK_MONOTONIC, comparable across the benchmark's processes), the
count, an order-independent digest and the identity of every record it
carried, so the benchmark can check delivery (nothing missing, nothing
twice) and time it. Aborted transactions leave nothing, as a
read_committed consumer would see nothing of them.
"""

from __future__ import annotations

import os
import pickle
import time
import uuid

import numpy as np

from pipebench.plan import record_hash

LEDGER_KEY = "standin.ledger.dir"


class StandInProducer:
    def __init__(self, conf: dict):
        self.ledger = conf[LEDGER_KEY]
        self._pending: list = []

    def init_transactions(self) -> None:
        os.makedirs(self.ledger, exist_ok=True)

    def begin_transaction(self) -> None:
        self._pending = []

    def send(self, topic, key, value, headers=None) -> None:
        self._pending.append((topic, key, value, headers))

    def abort_transaction(self) -> None:
        self._pending = []

    def commit_transaction(self) -> None:
        committed = time.monotonic_ns()
        rows = self._pending
        self._pending = []
        topics = sorted({r[0] for r in rows})
        hashes = np.fromiter(
            (record_hash(k, v, h) for _, k, v, h in rows), np.uint64, len(rows)
        )
        entry = {
            "topics": topics,
            "commit_ns": committed,
            "count": len(rows),
            "digest": int(hashes.sum(dtype=np.uint64)),
            "hashes": hashes,
            "bytes": sum(len(v or b"") for _, _, v, _ in rows),
            # *.invalid carries pointers, not payloads: keep them whole so
            # the checker can read the failure strings
            "invalid": [
                (v, h) for t, _, v, h in rows if t.endswith(".invalid")
            ],
        }
        name = f"{uuid.uuid4().hex}.pkl"
        tmp = os.path.join(self.ledger, "." + name)
        with open(tmp, "wb") as fh:
            pickle.dump(entry, fh, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, os.path.join(self.ledger, name))

    def close(self) -> None:
        pass


def standin_producer(conf: dict) -> StandInProducer:
    """Producer factory handed to KafkaPartitionedTransactionalWriter
    (module-level, so it pickles by reference into Python workers)."""
    return StandInProducer(conf)


def read_ledger(ledger_dir: str) -> list[dict]:
    """Every committed transaction the stand-in recorded (files this
    benchmark's own workers wrote)."""
    if not os.path.isdir(ledger_dir):
        return []
    out = []
    for name in sorted(os.listdir(ledger_dir)):
        if name.endswith(".pkl") and not name.startswith("."):
            with open(os.path.join(ledger_dir, name), "rb") as fh:
                out.append(pickle.load(fh))
    return out
