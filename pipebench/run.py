#!/usr/bin/env python3
"""Pipeline benchmark: the production job graph under three workloads.

    python3 pipebench/run.py --workload bulk_drain --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run builds one SparkSession, warms it
with an untimed pass of the workload's pre-roll batch through the whole
graph, then runs timed rounds (fresh queries on fresh directories, same
seeded inputs) until ``--seconds`` of rounds have elapsed. Every round is checked against the
generator's plan (check.py). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``; per-layer metrics (and a span file under
``.pipebench_out/``) with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pipebench import plan as P  # noqa: E402

WORK = os.path.join(ROOT, ".pipebench_work")
OUT = os.path.join(ROOT, ".pipebench_out")
FILES_PER_TRIGGER = 3
DELAY_MS = 500  # batch completion delay (the 300 s default would time a timer)
ROUND_TIMEOUT_S = 100


# --------------------------------------------------------------------------
# process environment
# --------------------------------------------------------------------------

def task_slots() -> int:
    """Spark task slots: the CPU budget (nproc, or $SPARK_GRAFT_CPUS when
    lower) minus one core kept for the Mgmt-API stub. The generator runs
    before the timed phase (a drain publishes its whole backlog at once),
    so it needs no core of its own."""
    budget = os.cpu_count() or 1
    if os.environ.get("SPARK_GRAFT_CPUS"):
        budget = min(budget, int(os.environ["SPARK_GRAFT_CPUS"]))
    return max(1, budget - 1)


def prepare_env(work: str) -> None:
    """Keep every file the JVM, Spark and the Python workers write inside
    the checkout, and let the workers import this package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_session(work: str, slots: int):
    from hri_flink_pipeline_core_spark.session import get_spark

    return get_spark(
        "hri-validation-pipebench",
        cpus=slots,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` as proportional set size: pages shared
    after a fork count once, so forked Python workers do not inflate the
    sum."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def shutdown(spark) -> None:
    """Stop Spark, then end the JVM and every Python worker it started, and
    wait for each of them."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(30)
        except Exception:
            proc.kill()
            proc.wait(10)
    # a later session in this process must launch its own JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        alive = [p for p in alive if _state(p) not in ("Z", "X")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "X"


# --------------------------------------------------------------------------
# rounds
# --------------------------------------------------------------------------

def pctl(values, q: float) -> float:
    """q-th percentile (linear interpolation) of a non-empty sample."""
    s = sorted(values)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Round:
    """Everything one round measured."""

    def __init__(self, name: str):
        self.name = name
        self.query_start_s = 0.0
        self.t0_ns = 0          # start of the timed phase
        self.t0_wall = 0.0
        self.t_end_ns = 0       # last terminal call at the stub
        self.records = 0
        self.latency_ms: list[float] = []
        self.turnaround_ms: list[float] = []
        self.terminal = 0
        self.rss_mb = 0.0
        self.gc_ms = 0
        self.verdict = None
        self.events: dict[str, list] = {}
        self.spans: list = []
        self.stub_requests: list = []
        self.lookups = 0
        self.ledger: list = []
        self.dim_versions = 0
        self.backlog: list[tuple] = []  # (trigger wall ts, files waiting)
        self.count_rows = 0

    @property
    def interval_s(self) -> float:
        return (self.t_end_ns - self.t0_ns) / 1e9


class Bench:
    def __init__(self, spark, progress, stub, work: str, trace: bool):
        from pipebench.graph import SpanLog

        self.spark = spark
        self.progress = progress
        self.stub = stub
        self.work = work
        self.spans = SpanLog() if trace else None
        self.n = 0

    # -- common round skeleton ------------------------------------------
    def _graph(self, plan):
        from pipebench.graph import RoundGraph

        self.n += 1
        work = os.path.join(self.work, f"round{self.n}")
        known = {
            b.id: b.notification(f"ingest.r{self.n}.claims.in",
                                 plan.pre_status.get(b.id, "started"))
            for b in plan.batches if b.id and b.kind != P.UNKNOWN
        }
        self.stub.state.reset(known)
        if self.spans:
            with self.spans.lock:
                self.spans.spans = []
        return RoundGraph(self.spark, work, f"r{self.n}", plan, self.stub.url,
                          FILES_PER_TRIGGER, DELAY_MS, self.spans)

    def _start(self, g, plan, r: Round, preroll: list[int]) -> None:
        """Publish the notifications the backlog's batches already have,
        start the queries, wait until the dim and the tracker hold them,
        then run the pre-roll batch (records ``preroll``) through
        validation: the graph is then ready for the backlog."""
        g.publish_notifications(
            [(b, plan.pre_status[b.id]) for b in plan.batches if b.id in plan.pre_status]
        )
        t = time.monotonic()
        roles = g.start()
        self.progress.watch(roles)
        pr = self.progress
        ready = pr.wait(lambda: pr.events("dim") and pr.events("tracker"), 60)
        # a trigger without data posts no progress event: poll lastProgress
        deadline = time.monotonic() + 60
        while ready and not all(q.lastProgress for q in g.pipe.queries):
            ready = time.monotonic() < deadline
            time.sleep(0.02)
        if not ready:
            raise RuntimeError("queries did not load the notifications in 60 s")
        g.publish_records([(g.stage_records(preroll), len(preroll))])
        if not pr.wait(lambda: pr.rows("validation") >= len(preroll), 60):
            raise RuntimeError("the pre-roll batch was not consumed in 60 s")
        r.query_start_s = time.monotonic() - t

    def _await_end(self, g, plan, r: Round) -> None:
        """Poll until every planned terminal call of a non-late batch has
        arrived and every record was consumed; sample RSS meanwhile."""
        need = {b.id for b in plan.batches if b.terminal and b.kind != P.LATE}
        total = len(plan.records)
        deadline = time.monotonic() + ROUND_TIMEOUT_S
        state = self.stub.state
        n = 0
        while True:
            # sampling is kept sparse: walking /proc and the JVM's page
            # tables competes with the pipeline for the same cores
            if n % 20 == 0:
                pids = [os.getpid()] + descendants(os.getpid())
            if n % 5 == 0:
                r.rss_mb = max(r.rss_mb, tree_rss_mb(pids))
            n += 1
            with state.lock:
                got = {c[2] for c in state.terminal}
            with self.progress.cond:
                consumed = self.progress.rows("validation")
            if need <= got and consumed >= total:
                break
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"round {r.name} did not finish in {ROUND_TIMEOUT_S} s: "
                    f"{len(need - got)} terminal calls missing, "
                    f"{consumed}/{total} records consumed"
                )
            time.sleep(0.1)

    def _finish(self, g, plan, r: Round, t_done_ns: dict) -> Round:
        """Stop the queries, collect what the round left, check it.
        ``t_done_ns``: per batch, when its records and its sendCompleted
        notification had both been published (turnaround starts there)."""
        from pipebench.check import check_round, count_rows_by_batch
        from pipebench.standin import read_ledger

        r.gc_ms = jvm_gc_ms(self.spark) - r.gc_ms
        g.stop()
        state = self.stub.state
        with state.lock:
            terminal = list(state.terminal)
            r.stub_requests = list(state.requests)
            r.lookups = state.lookups
        with self.progress.cond:
            r.events = {x: list(self.progress.events(x)) for x in ("dim", "validation", "tracker")}
        if self.spans:
            with self.spans.lock:
                r.spans = list(self.spans.spans)
        r.ledger = read_ledger(g.ledger_dir)
        counts = count_rows_by_batch(g.counts_dir)
        r.count_rows = sum(counts.values())
        r.verdict = check_round(plan, g.coord, r.ledger, terminal, counts, g.tenant, g.topics)
        r.records = sum(1 for i in plan.records.file if i >= 0)
        r.t_end_ns = max((c[0] for c in terminal), default=time.monotonic_ns())
        r.terminal = sum(1 for c in terminal if c[2] != "preroll")
        for c in terminal:
            if c[2] in t_done_ns:
                r.turnaround_ms.append((c[0] - t_done_ns[c[2]]) / 1e6)
        for tx in r.ledger:
            if g.topics.output_topic in tx["topics"] and tx["commit_ns"] >= r.t0_ns:
                r.latency_ms += [(tx["commit_ns"] - r.t0_ns) / 1e6] * tx["count"]
        r.dim_versions = sum(
            1 for d in os.listdir(g.dim.root) if d.startswith("v")
        )
        r.backlog = self._backlog(g, r)
        shutil.rmtree(g.work, ignore_errors=True)
        return r

    def _backlog(self, g, r: Round) -> list[tuple]:
        """Files waiting in the record source at the start of each
        validation trigger (files are consumed whole, in order)."""
        out, consumed_rows = [], 0
        files = g.published_files
        for e in r.events["validation"]:
            published = sum(1 for f in files if f[0] < e["ts"])
            acc, consumed = 0, 0
            for f in files:
                if acc + f[2] > consumed_rows:
                    break
                acc += f[2]
                consumed += 1
            out.append((e["ts"], published - consumed))
            consumed_rows += e["rows"]
        return out

    # -- drains ------------------------------------------------------------
    def warm_up(self, plan) -> None:
        """Untimed pass through fresh queries: the tracker and the dim load
        the notifications, then validation consumes the pre-roll batch. It
        pays what a fresh JVM pays once (JIT, the queries' first plans,
        the Python workers' imports), which does not depend on volume."""
        g = self._graph(plan)
        preroll = [i for i, f in enumerate(plan.records.file) if f == -1]
        try:
            self._start(g, plan, Round("warm-up"), preroll)
        finally:
            g.stop()
        shutil.rmtree(g.work, ignore_errors=True)

    def drain_round(self, plan) -> Round:
        g = self._graph(plan)
        r = Round(f"r{self.n}")
        try:
            by_file: dict[int, list] = {}
            for i, f in enumerate(plan.records.file):
                by_file.setdefault(f, []).append(i)
            preroll = by_file.pop(-1)
            self._start(g, plan, r, preroll)
            staged = [(g.stage_records(by_file[f]), len(by_file[f])) for f in sorted(by_file)]
            late = [plan.batches[j] for j in plan.late]
            late_rows = len(preroll) + (len(by_file[0]) if late else 0)
            r.gc_ms = jvm_gc_ms(self.spark)
            r.rss_mb = tree_rss_mb([os.getpid()] + descendants(os.getpid()))
            # processing-time triggers fire on whole multiples of their
            # 1 s interval: publishing 0.1 s before one makes the backlog's
            # first micro-batch start ~0.1 s after publication, not at a
            # random point of the second
            time.sleep((0.9 - time.time() % 1.0) % 1.0)
            r.t0_ns = g.publish_records(staged)
            r.t0_wall = time.time()
            done = {b.id: r.t0_ns for b in plan.batches
                    if b.terminal and b.kind != P.PREROLL}
            if late:
                pr = self.progress
                if not pr.wait(lambda: pr.rows("validation") >= late_rows, ROUND_TIMEOUT_S):
                    raise RuntimeError("late-metadata records were not consumed")
                g.publish_notifications([(b, "sendCompleted") for b in late])
                t = time.monotonic_ns()
                done.update({b.id: t for b in late})
            self._await_end(g, plan, r)
        except BaseException:
            g.stop()
            raise
        return self._finish(g, plan, r, done)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

def _scaled(shape, scale: float):
    """The shape with its volumes multiplied by ``scale`` (the smoke tests'
    tiny rounds keep every kind of batch and record)."""
    import dataclasses

    if scale == 1.0:
        return shape
    if isinstance(shape, P.BulkShape):
        return dataclasses.replace(
            shape, n_batches=max(4, int(shape.n_batches * scale)),
            n_records=max(400, int(shape.n_records * scale)),
            n_files=max(4, int(shape.n_files * scale)))
    if isinstance(shape, P.SmallShape):
        f = lambda n: max(2, int(n * scale))  # noqa: E731
        return dataclasses.replace(
            shape, complete=f(shape.complete), threshold=f(shape.threshold),
            overflow=f(shape.overflow), terminated=f(shape.terminated),
            completed=f(shape.completed), unknown=f(shape.unknown),
            late=f(shape.late), missing_header_records=f(shape.missing_header_records),
            n_files=f(shape.n_files))
    raise TypeError(shape)


WORKLOADS = {
    "bulk_drain": (P.BulkShape(), P.bulk_plan),
    "small_batches": (P.SmallShape(), P.small_plan),
}


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 scale: float = 1.0) -> dict:
    """One benchmark run; returns the result object (see module doc)."""
    from pipebench.graph import Progress
    from pipebench.stub import MgmtApiStub

    shape0, make = WORKLOADS[workload]
    shape = _scaled(shape0, scale)
    work = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    plan = make(seed, shape)

    t = time.monotonic()
    spark = start_session(work, task_slots())
    session_s = time.monotonic() - t
    try:
        progress = Progress()
        spark.streams.addListener(progress)
        with MgmtApiStub() as stub:
            bench = Bench(spark, progress, stub, work, trace)
            t = time.monotonic()
            bench.warm_up(plan)
            warmup_s = time.monotonic() - t
            rounds = []
            t = time.monotonic()
            while not rounds or time.monotonic() - t < seconds:
                rounds.append(bench.drain_round(plan))
            spark.streams.removeListener(progress)
    finally:
        shutdown(spark)
    result = summarize(workload, seed, rounds, session_s, warmup_s, trace)
    shutil.rmtree(work, ignore_errors=True)
    return result


def summarize(workload, seed, rounds, session_s, warmup_s, trace) -> dict:
    errors = []
    att_b = att_r = fail_b = fail_r = 0
    for r in rounds:
        v = r.verdict
        errors += v.errors
        att_b += v.attempted_batches
        att_r += v.attempted_records
        fail_b += v.failed_batches
        fail_r += v.failed_records
    lat = [x for r in rounds for x in r.latency_ms]
    turn = [x for r in rounds for x in r.turnaround_ms]
    med = lambda xs: statistics.median(xs)  # noqa: E731
    e2e = {
        "setup_s": (session_s + warmup_s + med([r.query_start_s for r in rounds]), "s"),
        "records_per_s": (med([r.records / r.interval_s for r in rounds]), "1/s"),
        "batches_per_s": (med([r.terminal / r.interval_s for r in rounds]), "1/s"),
        "record_latency_p50_ms": (pctl(lat, 0.5) if lat else 0.0, "ms"),
        "record_latency_p90_ms": (pctl(lat, 0.9) if lat else 0.0, "ms"),
        "batch_turnaround_p50_ms": (pctl(turn, 0.5) if turn else 0.0, "ms"),
        "batch_turnaround_p90_ms": (pctl(turn, 0.9) if turn else 0.0, "ms"),
        "peak_rss_mb": (max(r.rss_mb for r in rounds), "MB"),
    }
    ops = {
        "rounds": len(rounds),
        "batches": {"attempted": att_b, "failed": fail_b},
        "records": {"attempted": att_r, "failed": fail_r},
        "latency_samples": len(lat),
        "turnaround_samples": len(turn),
    }
    metrics = e2e
    if trace:
        from pipebench.trace import layer_metrics, write_trace

        metrics = layer_metrics(rounds, session_s, warmup_s)
        path = os.path.join(OUT, f"trace-{workload}-seed{seed}.json")
        write_trace(path, rounds, {k: v for k, (v, _) in e2e.items()})
    return {
        "correct": not errors,
        "attempted": att_b + att_r,
        "failed": fail_b + fail_r,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "ops": ops,
        "errors": errors,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import hri_flink_pipeline_core_spark  # noqa: F401
    except ImportError as exc:
        print(f"pipebench: the pipeline package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    try:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    for e in res.pop("errors"):
        print(f"pipebench: INCORRECT: {e}", file=sys.stderr)
    ops = res.pop("ops")
    print(f"pipebench: {args.workload} seed={args.seed} {json.dumps(ops)}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
