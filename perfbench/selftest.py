"""The benchmark's own self-test, at a tiny size.

    python3 perfbench/selftest.py

Runs every workload untraced and traced at sf 0.001 with a short
generator run, each in its own process, and checks that every registered
metric is emitted with its unit and that the untraced metrics are
non-zero. It then swaps one batch query for a copy that drops a row and
checks that the correctness gate trips. Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

BROKEN_QUERY = "q1_pricing_summary"


def _drop_one_row(fn):
    def broken(spark, sf_dir):
        df = fn(spark, sf_dir)
        return df.exceptAll(df.limit(1))
    return broken


def _one(workload: str, trace: bool, broken: bool) -> None:
    """Child process: one tiny run; prints the result object."""
    sys.path.insert(0, harness.ROOT)
    import stream

    stream.BACKLOG_CHUNKS = 1
    ctx = harness.Context(workload, seed=7, seconds=2.0, trace=trace,
                          t0=time.time(), sf=0.001)
    swap = {BROKEN_QUERY: _drop_one_row} if broken else {}
    print(json.dumps(harness.result(ctx, harness.run(ctx, swap))), flush=True)


def _spawn(workload: str, trace: bool, broken: bool = False) -> dict:
    out = subprocess.run(
        [sys.executable, __file__, "--one", workload, str(int(trace)),
         str(int(broken))],
        capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check_metrics(res: dict, registry: dict, nonzero: bool) -> list[str]:
    errors = []
    for name, unit in registry.items():
        m = res["metrics"].get(name)
        if m is None or m.get("unit") != unit:
            errors.append(f"{name}: missing or unit != {unit}: {m}")
        elif not math.isfinite(m["value"]) or (nonzero and m["value"] == 0):
            errors.append(f"{name}: bad value {m['value']}")
    extra = set(res["metrics"]) - set(registry)
    if extra:
        errors.append(f"unregistered metrics {sorted(extra)}")
    return errors


def main() -> int:
    errors = []
    for workload in harness.WORKLOADS:
        for trace, registry in ((False, harness.END_TO_END), (True, harness.PER_LAYER)):
            res = _spawn(workload, trace)
            label = f"{workload} trace={int(trace)}"
            if not res["correct"] or res["failed"]:
                errors.append(f"{label}: gate failed on unbroken code: {res}")
            errors += [f"{label}: {e}" for e in _check_metrics(res, registry, not trace)]
            print(f"{label}: checked", flush=True)
    res = _spawn("batch", False, broken=True)
    if res["correct"] or res["failed"] < 1:
        errors.append(f"gate did not trip on a query that drops a row: {res}")
    print("broken query: checked", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "FAILED" if errors else "OK")
    return 1 if errors else 0


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "--one":
        _one(sys.argv[2], sys.argv[3] == "1", sys.argv[4] == "1")
    else:
        sys.exit(main())
