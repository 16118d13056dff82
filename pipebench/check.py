"""Correctness of one round, judged against the generator's plan.

- every planned-valid record is on *.out exactly once, every
  planned-invalid record is on *.invalid exactly once with the exact
  failure string and batchId, every dropped record is on neither, and
  nothing unplanned appears;
- each batch gets exactly one terminal Mgmt-API call with the planned
  action and counts (threshold failures: ``invalidRecordCount`` only,
  because ``actualRecordCount`` there depends on arrival order), and
  batches without a terminal outcome get none;
- the counts sink holds one count event per validated record.

Late-metadata batches (plan.LATE) are resolved by a Mgmt-API lookup in
the reference. A late batch whose terminal call is missing, and its
records that did not route as planned, are counted as failed operations;
any other deviation makes the round incorrect.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.dataset as ds

from pipebench.plan import DROP, LATE, OUT, Plan, record_hash


@dataclass
class Verdict:
    errors: list = field(default_factory=list)
    attempted_batches: int = 0
    failed_batches: int = 0
    attempted_records: int = 0
    failed_records: int = 0

    def error(self, msg: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(msg)


def count_rows_by_batch(counts_dir: str) -> Counter:
    if not os.listdir(counts_dir):
        return Counter()
    table = ds.dataset(counts_dir, format="parquet").to_table(columns=["batchId"])
    return Counter(table.column("batchId").to_pylist())


def check_round(plan: Plan, coord: dict, ledger: list, terminal: list,
                counts: Counter, tenant: str, topics) -> Verdict:
    v = Verdict()
    rec = plan.records
    n = len(rec)
    v.attempted_records = n
    v.attempted_batches = sum(1 for b in plan.batches if b.id)

    by_hash = {}
    for i in range(n):
        headers = [("batchId", rec.batch[i].encode())] if rec.batch[i] else []
        by_hash[record_hash(rec.key[i], rec.value[i], headers)] = i

    seen_out = Counter()
    seen_inv: dict[int, list] = {}
    for tx in ledger:
        if topics.output_topic in tx["topics"]:
            for h in tx["hashes"].tolist():
                i = by_hash.get(h)
                if i is None:
                    v.error(f"unplanned record on {topics.output_topic}")
                else:
                    seen_out[i] += 1
        for value, headers in tx["invalid"]:
            env = json.loads(value)
            i = coord.get((env.get("partition"), env.get("offset")))
            if i is None or env.get("topic") != topics.input_topic:
                v.error(f"unplanned invalid envelope {env}")
                continue
            seen_inv.setdefault(i, []).append((env, headers))

    late = {plan.batches[j].id for j in plan.late}
    failed_late_batches = set()
    for i in range(n):
        route, failure = plan.route(i)
        outs, invs = seen_out.get(i, 0), seen_inv.get(i, [])
        if outs > 1 or len(invs) > 1 or (outs and invs):
            v.error(f"record {rec.key[i]!r} delivered {outs + len(invs)} times")
            continue
        if route == OUT:
            ok = outs == 1
        elif route == DROP:
            ok = not outs and not invs
        else:
            ok = len(invs) == 1 and _envelope_ok(invs[0], failure, rec.batch[i])
        if ok:
            continue
        if rec.batch[i] in late:
            v.failed_records += 1
            failed_late_batches.add(rec.batch[i])
        else:
            v.error(
                f"record {rec.key[i]!r} of batch {rec.batch[i]!r}: planned {route} "
                f"{failure!r}, got out={outs} invalid={[e for e, _ in invs]}"
            )

    calls: dict[str, list] = {}
    for _, t, batch, action, body in terminal:
        if t != tenant:
            v.error(f"terminal call for tenant {t}")
        calls.setdefault(batch, []).append((action, body))
    planned = {b.id: b for b in plan.batches if b.id}
    for bid in calls:
        if bid not in planned:
            v.error(f"terminal call for unplanned batch {bid}")
    for bid, b in planned.items():
        got = calls.get(bid, [])
        if b.terminal is None:
            if got:
                v.error(f"batch {bid} ({b.kind}) got terminal calls {got}")
            continue
        if not got and b.kind == LATE:
            failed_late_batches.add(bid)
            continue
        if len(got) != 1 or not _terminal_ok(b.terminal, *got[0]):
            v.error(f"batch {bid} ({b.kind}): planned {b.terminal}, got {got}")
        if b.kind != LATE and counts.get(bid, 0) != b.n_records:
            v.error(f"batch {bid}: {counts.get(bid, 0)} count events, "
                    f"want {b.n_records}")
    for bid, b in planned.items():
        if b.terminal is None and counts.get(bid, 0):
            v.error(f"batch {bid} ({b.kind}) emitted count events")
    v.failed_batches = sum(
        1 for j in plan.late if plan.batches[j].id in failed_late_batches
    )
    return v


def _envelope_ok(inv, failure: str, batch: str | None) -> bool:
    env, headers = inv
    want_headers = [("batchId", batch.encode())] if batch else []
    return (
        env.get("failure") == failure
        and env.get("batchId") == batch
        and [(k, bytes(x)) for k, x in headers or []] == want_headers
    )


def _terminal_ok(planned: tuple, action: str, body: dict) -> bool:
    p_action, p_actual, p_invalid, p_msg = planned
    return (
        action == p_action
        and (p_actual is None or body.get("actualRecordCount") == p_actual)
        and body.get("invalidRecordCount") == p_invalid
        and (p_msg is None or body.get("failureMessage") == p_msg)
    )
