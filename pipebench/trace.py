"""Traced runs: spans rebuilt from the benchmark's own observation points,
written when the run ends, and the per-layer metrics with self times.

Spans (name, id, parent, start_ms, end_ms; times relative to the round's
timed phase):

- one span per micro-batch of each query (``<round>/<query>/<batch>``),
  rebuilt from the progress timestamp and ``durationMs``, with its phases
  (latestOffset, walCommit, getBatch, queryPlanning, addBatch,
  commitOffsets) laid out in execution order as children;
- one span per wrapped sink call, a child of its micro-batch's addBatch;
- one span per Mgmt-API stub request, a child of the sink call it
  happened in.

A layer's self time is its spans' duration minus the part covered by its
children. Per-round figures are means over the timed rounds.
"""

from __future__ import annotations

import json
import os
import statistics

PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
           "commitOffsets")
SINK_QUERY = {"sink.out": "validation", "sink.invalid": "validation",
              "sink.counts": "validation", "sink.mgmt": "tracker"}


def _timed(r, role):
    """Triggers of ``role`` that finished in the round's timed phase."""
    return [e for e in r.events[role] if e["done_ns"] >= r.t0_ns]


def _union_ms(spans) -> float:
    total, end = 0.0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def round_spans(r) -> list[dict]:
    """All spans of round ``r`` (ms relative to its timed phase)."""
    off_ms = r.t0_wall * 1e3  # wall time of t0_ns
    rel = lambda ns: (ns - r.t0_ns) / 1e6  # noqa: E731
    spans = []
    for role, events in r.events.items():
        for e in events:
            sid = f"{r.name}/{role}/{e['batch']}"
            start = e["ts"] * 1e3 - off_ms
            spans.append({"name": f"{role}.trigger", "id": sid, "parent": None,
                          "start_ms": start,
                          "end_ms": start + e["dur"].get("triggerExecution", 0)})
            t = start
            for ph in PHASES:
                d = e["dur"].get(ph)
                if d is not None:
                    spans.append({"name": f"{role}.{ph}", "id": sid, "parent": sid,
                                  "start_ms": t, "end_ms": t + d})
                    t += d
    sink_spans = []
    for name, batch, s, e in r.spans:
        sid = f"{r.name}/{SINK_QUERY[name]}/{batch}"
        sink_spans.append((rel(s), rel(e), sid))
        spans.append({"name": name, "id": sid, "parent": sid,
                      "start_ms": rel(s), "end_ms": rel(e)})
    for kind, s, e in r.stub_requests:
        s_ms, e_ms = rel(s), rel(e)
        parent = next((p for a, b, p in sink_spans if a <= s_ms and e_ms <= b), None)
        spans.append({"name": f"stub.{kind}", "id": parent, "parent": parent,
                      "start_ms": s_ms, "end_ms": e_ms})
    return spans


def write_trace(path: str, rounds, e2e: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    doc = {"end_to_end": e2e,
           "rounds": [{"name": r.name, "spans": round_spans(r)} for r in rounds]}
    with open(path, "w") as fh:
        json.dump(doc, fh)


def layer_metrics(rounds, session_s: float, warmup_s: float) -> dict:
    n = len(rounds)
    per = lambda xs: sum(xs) / n  # noqa: E731
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m: dict[str, tuple] = {
        "session.start_s": (session_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
    }
    trig = {role: [e for r in rounds for e in _timed(r, role)]
            for role in ("dim", "validation", "tracker")}
    te = lambda e: e["dur"].get("triggerExecution", 0)  # noqa: E731
    ab = lambda e: e["dur"].get("addBatch", 0)  # noqa: E731
    val, trk, dim = trig["validation"], trig["tracker"], trig["dim"]
    m["source.plan_ms"] = (med([e["dur"].get("latestOffset", 0) + e["dur"].get("getBatch", 0)
                                for e in val]), "ms")
    m["source.backlog_files_max"] = (max((b for r in rounds for _, b in r.backlog), default=0),
                                     "count")
    out_rows = [sum(tx["count"] for tx in r.ledger if any(t.endswith(".out") for t in tx["topics"]))
                for r in rounds]
    inv_rows = [sum(len(tx["invalid"]) for tx in r.ledger) for r in rounds]
    m.update({
        "validation.triggers": (len(val) / n, "count"),
        "validation.trigger_ms_p50": (med([te(e) for e in val]), "ms"),
        "validation.trigger_ms_max": (max((te(e) for e in val), default=0), "ms"),
        "validation.foreach_batch_ms": (sum(ab(e) for e in val) / n, "ms"),
        "validation.engine_overhead_ms": (sum(te(e) - ab(e) for e in val) / n, "ms"),
        "validation.rows": (sum(e["rows"] for e in val) / n, "count"),
        "validation.valid_rows": (per(out_rows), "count"),
        "validation.invalid_rows": (per(inv_rows), "count"),
        "validation.count_rows": (per([r.count_rows for r in rounds]), "count"),
        "dim.triggers": (len(dim) / n, "count"),
        "dim.trigger_ms_p50": (med([te(e) for e in dim]), "ms"),
        "dim.versions": (per([r.dim_versions for r in rounds]), "count"),
    })
    spans = [s for r in rounds for s in r.spans]
    mgmt_calls = {(r.name, b) for r in rounds for nm, b, s, _ in r.spans
                  if nm == "sink.mgmt" and s >= r.t0_ns}
    busy = {(r.name, e["batch"]) for r in rounds for e in _timed(r, "tracker") if e["rows"]}
    span_ms = lambda name: sum((e - s) / 1e6 for nm, _, s, e in spans if nm == name) / n  # noqa: E731
    m.update({
        "sink.out_ms": (span_ms("sink.out"), "ms"),
        "sink.invalid_ms": (span_ms("sink.invalid"), "ms"),
        "sink.counts_ms": (span_ms("sink.counts"), "ms"),
        "sink.out_bytes": (per([sum(tx["bytes"] for tx in r.ledger if any(
            t.endswith(".out") for t in tx["topics"])) for r in rounds]), "bytes"),
        "sink.transactions": (per([len(r.ledger) for r in rounds]), "count"),
        # a tracker batch without input (it runs for its timers) posts no
        # progress event, but it does call the terminal sink
        "tracker.triggers": (len(mgmt_calls) / n, "count"),
        "tracker.idle_triggers": (len(mgmt_calls - busy) / n, "count"),
        "tracker.trigger_ms_p50": (med([te(e) for e in trk]), "ms"),
        "tracker.trigger_ms_max": (max((te(e) for e in trk), default=0), "ms"),
        "tracker.rows": (sum(e["rows"] for e in trk) / n, "count"),
        "tracker.state_rows": (per([_last(r, "tracker", "state_rows") for r in rounds]), "count"),
        "tracker.state_bytes": (per([_last(r, "tracker", "state_bytes") for r in rounds]), "bytes"),
        "tracker.state_update_ms": (sum(e["state_update_ms"] for e in trk) / n, "ms"),
        "tracker.state_commit_ms": (sum(e["state_commit_ms"] for e in trk) / n, "ms"),
        "mgmt.requests": (per([len(r.stub_requests) for r in rounds]), "count"),
        "mgmt.lookup_requests": (per([r.lookups for r in rounds]), "count"),
        "mgmt.sink_ms": (span_ms("sink.mgmt"), "ms"),
        "jvm.gc_ms": (per([r.gc_ms for r in rounds]), "ms"),
    })
    m.update(self_times(rounds))
    return m


def _last(r, role, key):
    ev = r.events[role]
    return ev[-1][key] if ev else 0


def self_times(rounds) -> dict:
    """Self time per layer, per round: trigger spans minus their sink
    children; sink calls minus the stub requests inside them."""
    n = len(rounds)
    acc = {k: 0.0 for k in ("validation", "dim", "tracker", "sink", "mgmt", "stub")}
    for r in rounds:
        spans = round_spans(r)
        kids: dict[str, list] = {}
        for s in spans:
            if s["name"].startswith("sink."):
                kids.setdefault(s["id"], []).append(s)
        stub = [s for s in spans if s["name"].startswith("stub.")]
        acc["stub"] += sum(s["end_ms"] - s["start_ms"] for s in stub)
        for s in spans:
            role = s["name"].split(".")[0]
            if s["name"].endswith(".trigger") and s["start_ms"] >= 0:
                sinks = [(k["start_ms"], k["end_ms"]) for k in kids.get(s["id"], [])]
                covered = _union_ms(sinks)
                acc[role] += s["end_ms"] - s["start_ms"] - covered
                if role == "validation":
                    acc["sink"] += covered
            elif s["name"] == "sink.mgmt":
                inner = [(q["start_ms"], q["end_ms"]) for q in stub if q["parent"] == s["id"]
                         and s["start_ms"] <= q["start_ms"] <= s["end_ms"]]
                acc["mgmt"] += s["end_ms"] - s["start_ms"] - _union_ms(inner)
    return {f"{k}.self_ms": (v / n, "ms") for k, v in acc.items()}
