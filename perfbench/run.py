#!/usr/bin/env python3
"""Benchmark command for the crawl engine (see perfbench/README.md).

    python3 perfbench/run.py --workload crawl_payload --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything the
run writes (Spark scratch, corpus/oracle cache, span files, per-run detail)
stays under .perfbench_work/ in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="tiny-site check of metric names/units and the gate")
    args = ap.parse_args()

    root = Path.cwd()
    work = root / ".perfbench_work"
    sys.path[:0] = [str(HERE), str(root)]
    try:
        import pttcrawler_spark  # noqa: F401
    except ImportError:
        print(f"perfbench: no pttcrawler_spark package under {root}; run "
              "from the repository root", file=sys.stderr)
        return 2

    # Spark's JVM, its Python workers and tempfile all write under `work`;
    # the workers import the package from the repository root
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    if args.selftest:
        import selftest
        return selftest.main(work)

    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    import harness
    result = harness.run(args.workload, args.seed, args.seconds,
                         bool(args.trace), work)
    detail = result.pop("detail")
    results = work / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(results / name, "w") as fh:
        json.dump({**result, "detail": detail}, fh, indent=1)
    for k, v in sorted(result["metrics"].items()):
        print(f"perfbench: {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(f"perfbench: ops_failed_ratio = {detail['ops_failed_ratio']:.6g} ratio"
          f" ({result['failed']}/{result['attempted']}); host {detail['host']}",
          file=sys.stderr)
    for e in detail["errors"]:
        print(f"perfbench: gate: {e}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
