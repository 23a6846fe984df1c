"""sessionlake benchmark: one command, two workloads.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Run from the repository root. Every run generates its inputs from
``--seed`` under ``.perfbench/`` in the working directory, starts Spark
as ``local[min(4, nproc)]``, checks the outputs it produces, and prints as
its last stdout line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate traced run that reports
the per-layer metrics. README.md in this directory defines every metric.
"""

import time

T0 = time.time()  # process start, as near as Python can see it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=harness.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, harness.PKG)):
        print(f"perfbench: package {harness.PKG} not found under "
              f"{harness.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    ctx = harness.Context(args.workload, args.seed, args.seconds,
                          bool(args.trace), T0)
    out = harness.result(ctx, harness.run(ctx))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
