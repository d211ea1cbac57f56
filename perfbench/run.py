#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the
seed, runs the engine under them for ``--seconds``, checks every op and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics traced).
Every file it writes lives under ``.perfbench/`` in the repository
root: scratch state in ``.perfbench/work`` (removed at exit), a
report with host facts and, when traced, every span, in
``.perfbench/reports``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "z316_sales_data_pipeline_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: the engine's sources are missing from {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True  # leave no __pycache__ in the tree
    sys.path[:0] = [HERE, ROOT]

    import harness
    from workloads import WORKLOADS, per_layer_names

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # on SIGTERM, unwind through the clean-up below: stop the JVM, remove scratch
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = harness.run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        # every per-layer metric is reported; a layer this workload never
        # calls reads zero
        for name, unit in per_layer_names():
            result["metrics"].setdefault(name, {"value": 0.0, "unit": unit})
    report = os.path.join(ROOT, ".perfbench", "reports",
                          f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    harness.write_report(report, result)
    print(f"perfbench: report in {os.path.relpath(report, ROOT)}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
