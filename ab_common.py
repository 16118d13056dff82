"""Shared runner for the paired A/B harnesses at the repo root.

Each harness supplies a CHILD script (run in its own subprocess so
launch-time JVM configs apply) that prints one ``AB_RESULT {json}``
line with ``{"mode": ..., "timings": {...}, "errors": {...}}``; this
module owns the subprocess plumbing, result parsing, min-accumulation
across rounds, and the per-query summary — the protocol lives in ONE
place instead of one copy per harness (round-9 review finding; the historical
harnesses keep their own MODES/NAMES/child bodies, so their committed
measurements stay reproducible).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run_child(child_src: str, argv: list[str], timeout: int = 1800) -> dict:
    """Run ``python -c child_src *argv`` and return the parsed AB_RESULT
    payload (always carries a possibly-empty ``errors`` dict — round-10
    review: partial failures must reach the caller's accumulator, not
    just stderr). A subprocess timeout returns a payload with empty
    timings and a ``__timeout__`` error instead of raising away every
    round already accumulated. Surfaces the child's stderr tail on
    protocol failure."""
    try:
        out = subprocess.run(
            [sys.executable, "-c", child_src, *argv],
            capture_output=True,
            text=True,
            timeout=timeout,
            env=os.environ,
        )
    except subprocess.TimeoutExpired as exc:
        print(f"child {argv!r} timed out after {timeout}s", file=sys.stderr)
        tail = (exc.stderr or b"")
        if isinstance(tail, bytes):
            tail = tail.decode("utf-8", "replace")
        print(tail[-2000:], file=sys.stderr)
        return {
            "mode": argv[0] if argv else "?",
            "timings": {},
            "errors": {"__timeout__": f"exceeded {timeout}s"},
        }
    for line in out.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            d = json.loads(line[len("AB_RESULT ") :])
            d.setdefault("errors", {})
            if d["errors"]:
                print("errors:", d["errors"], file=sys.stderr)
            return d
    print(out.stdout[-2000:], file=sys.stderr)
    print(out.stderr[-2000:], file=sys.stderr)
    raise RuntimeError(f"child {argv!r} produced no AB_RESULT")


def accumulate(
    acc: dict[str, dict[str, float]],
    mode: str,
    timings: dict,
    errors: dict | None = None,
    err_acc: dict[str, dict[str, str]] | None = None,
) -> None:
    """Fold one round's timings into the per-mode min accumulator; a
    round's errors fold into ``err_acc`` so summarize can annotate the
    INCOMPLETE flag with the cause (round-10 review)."""
    slot = acc.setdefault(mode, {})
    for k, v in timings.items():
        slot[k] = min(slot.get(k, v), v)
    if errors and err_acc is not None:
        err_acc.setdefault(mode, {}).update(errors)


def summarize(
    acc: dict[str, dict[str, float]],
    names: list[str],
    err_acc: dict[str, dict[str, str]] | None = None,
) -> None:
    """Per-query min table + per-mode totals; totals over a mode that
    lost a query to an error are flagged INCOMPLETE rather than printed
    as a silent win (round-9 review finding), with the accumulated
    error causes when the caller tracked them."""
    modes = list(acc)
    print("\nper-query min across rounds:")
    for k in names:
        row = "  ".join(
            f"{m}={acc[m].get(k, float('nan')):7.3f}" for m in modes
        )
        print(f"{k:28s} {row}")
    for m in modes:
        missing = [k for k in names if k not in acc[m]]
        note = f"  (INCOMPLETE — missing {missing})" if missing else ""
        errs = (err_acc or {}).get(m) or {}
        # only errors for queries STILL missing from the accumulator are
        # unrecovered; a transient failure followed by a successful round
        # must not annotate a complete total as errored (round-10 review).
        live = {k: v for k, v in errs.items() if k in missing or k not in acc[m]}
        recovered = sorted(k for k in errs if k not in live)
        if live:
            note += f"  errors={live}"
        if recovered:
            note += f"  (recovered-in-later-round: {recovered})"
        print(f"TOTAL {m} = {sum(acc[m].values()):.2f}{note}")
