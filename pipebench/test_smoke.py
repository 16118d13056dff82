"""Smoke tests of the benchmark's own parts: the generator's plans, the
checker, the stand-in broker, the Mgmt-API stub, and each workload end to
end at a tiny size. Run from the repository root:

    python3 -m pytest pipebench -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipebench import plan as P  # noqa: E402
from pipebench.check import check_round  # noqa: E402
from pipebench.standin import read_ledger, standin_producer, LEDGER_KEY  # noqa: E402
from pipebench.stub import MgmtApiStub  # noqa: E402

TINY_SMALL = P.SmallShape(complete=6, threshold=3, overflow=3, terminated=2,
                          completed=2, unknown=2, late=2,
                          missing_header_records=10, n_files=4)


class Topics:
    input_topic = "ingest.t.claims.in"
    output_topic = "ingest.t.claims.out"
    invalid_topic = "ingest.t.claims.invalid"


def test_operation_counts_do_not_depend_on_the_seed():
    for make, shape in ((P.bulk_plan, P.BulkShape()), (P.small_plan, TINY_SMALL)):
        a, b = make(1, shape), make(2, shape)
        assert len(a.records) == len(b.records)
        assert [x.kind for x in a.batches] == [x.kind for x in b.batches]
        assert [len(a.late), sum(a.batches[j].n_records for j in a.late)] == \
            [len(b.late), sum(b.batches[j].n_records for j in b.late)]
        assert a.records.value != b.records.value


def test_same_seed_same_inputs():
    a, b = P.small_plan(7, TINY_SMALL), P.small_plan(7, TINY_SMALL)
    assert a.records.value == b.records.value and a.records.file == b.records.file


def test_small_plan_routes_every_rule_and_keeps_batches_in_one_file():
    p = P.small_plan(3, TINY_SMALL)
    routes = Counter(p.route(i)[1] for i in range(len(p.records)))
    for err in (P.ERR_MISSING, P.ERR_UNKNOWN, P.ERR_COMPLETED):
        assert routes[err] > 0
    assert any(f and f.startswith(P.JSON_ERR_PREFIX) for f in routes)
    files = {}
    for i, owner in enumerate(p.records.owner):
        if p.batches[owner].id:
            files.setdefault(owner, set()).add(p.records.file[i])
    assert all(len(f) == 1 for f in files.values())
    late_files = {p.records.file[i] for i in range(len(p.records))
                  if p.records.owner[i] in p.late}
    assert late_files == {0}


def _perfect_outputs(p):
    """What a correct pipeline delivers for plan ``p``."""
    coord, out_hashes, invalid, terminal = {}, [], [], []
    for i in range(len(p.records)):
        coord[(0, i)] = i
        route, failure = p.route(i)
        bid = p.records.batch[i]
        headers = [("batchId", bid.encode())] if bid else []
        if route == P.OUT:
            out_hashes.append(P.record_hash(p.records.key[i], p.records.value[i], headers))
        elif route == P.INVALID:
            env = {"failure": failure, "topic": Topics.input_topic, "partition": 0,
                   "offset": i}
            if bid:
                env["batchId"] = bid
            invalid.append((json.dumps(env).encode(), headers))
    counts = Counter()
    for b in p.batches:
        if b.terminal:
            action, actual, inv, msg = b.terminal
            body = {"actualRecordCount": actual if actual is not None else b.n_records,
                    "invalidRecordCount": inv}
            if msg:
                body["failureMessage"] = msg
            terminal.append((0, "t", b.id, action, body))
            counts[b.id] = b.n_records
    import numpy as np

    ledger = [{"topics": [Topics.output_topic, ], "hashes": np.array(out_hashes, np.uint64),
               "invalid": []},
              {"topics": [Topics.invalid_topic], "hashes": np.array([], np.uint64),
               "invalid": invalid}]
    return coord, ledger, terminal, counts


def test_checker_accepts_a_correct_round_and_catches_faults():
    p = P.small_plan(5, TINY_SMALL)
    coord, ledger, terminal, counts = _perfect_outputs(p)
    v = check_round(p, coord, ledger, terminal, counts, "t", Topics)
    assert v.errors == [] and v.failed_batches == 0 and v.failed_records == 0

    dup = [dict(ledger[0]), ledger[1]]
    dup[0]["hashes"] = ledger[0]["hashes"][[0, 0]]
    assert any("2 times" in e for e in check_round(p, coord, dup, terminal, counts, "t",
                                                   Topics).errors)
    wrong = [t if t[3] != "fail" else (t[0], t[1], t[2], "processingComplete", t[4])
             for t in terminal]
    assert check_round(p, coord, ledger, wrong, counts, "t", Topics).errors


def test_checker_counts_unresolved_late_batches_as_failed():
    p = P.small_plan(5, TINY_SMALL)
    coord, ledger, terminal, counts = _perfect_outputs(p)
    late = {p.batches[j].id for j in p.late}
    terminal = [t for t in terminal if t[2] not in late]
    # today's routing: the late records land on *.invalid as unknown batchId
    invalid = [(v, h) for v, h in ledger[1]["invalid"]
               if json.loads(v).get("batchId") not in late]
    for i in range(len(p.records)):
        if p.records.batch[i] in late:
            env = {"failure": P.ERR_UNKNOWN, "topic": Topics.input_topic,
                   "partition": 0, "offset": i, "batchId": p.records.batch[i]}
            invalid.append((json.dumps(env).encode(),
                            [("batchId", p.records.batch[i].encode())]))
    keep = {P.record_hash(p.records.key[i], p.records.value[i],
                          [("batchId", p.records.batch[i].encode())])
            for i in range(len(p.records)) if p.records.batch[i] in late}
    out = ledger[0]["hashes"][[h not in keep for h in ledger[0]["hashes"].tolist()]]
    ledger = [{**ledger[0], "hashes": out}, {**ledger[1], "invalid": invalid}]
    v = check_round(p, coord, ledger, terminal, counts, "t", Topics)
    assert v.errors == []
    assert v.failed_batches == len(p.late)
    assert v.failed_records == sum(p.batches[j].n_records for j in p.late)


def test_standin_records_committed_transactions_only(tmp_path):
    prod = standin_producer({LEDGER_KEY: str(tmp_path)})
    prod.init_transactions()
    prod.begin_transaction()
    prod.send("a.out", b"k", b"v", [("batchId", b"b")])
    prod.abort_transaction()
    prod.begin_transaction()
    prod.send("a.out", b"k", b"v", [("batchId", b"b")])
    prod.commit_transaction()
    (tx,) = read_ledger(str(tmp_path))
    assert tx["count"] == 1
    assert tx["hashes"].tolist() == [P.record_hash(b"k", b"v", [("batchId", b"b")])]


def test_stub_serves_the_mgmt_client():
    from hri_flink_pipeline_core_spark.sinks.mgmt_api import MgmtClient, RequestException

    b = P.Batch("b1", P.LATE, 3, 0, expected=3)
    with MgmtApiStub() as stub:
        stub.state.reset({"b1": b.notification("t", "started")})
        c = MgmtClient(stub.url, "id", "secret", "aud", stub.url + "/oauth")
        c.processing_complete("t", "b1", 3, 0)
        assert c.get_batch_id("t", "b1")["id"] == "b1"
        with pytest.raises(RequestException) as exc:
            c.get_batch_id("t", "nope")
        assert exc.value.status_code == 404
        (call,) = stub.state.terminal
        assert call[1:4] == ("t", "b1", "processingComplete")
        assert stub.state.lookups == 2


@pytest.mark.parametrize("workload", ["bulk_drain", "small_batches"])
def test_workload_end_to_end_at_tiny_size(workload):
    from pipebench.run import run_workload

    res = run_workload(workload, 3, 0, trace=True, scale=0.05)
    assert res["errors"] == [] and res["correct"]
    assert res["attempted"] > 0
    if workload == "small_batches":
        assert res["failed"] > 0  # the unresolved late-metadata batches
    assert res["metrics"]["validation.rows"]["value"] > 0
