#!/usr/bin/env python3
"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload umls_export --seed 1 --seconds 10 --trace 0

Workloads: ``umls_export`` and ``corpus_curation`` (see harness.py and
METRICS.md). The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
ones. The line before it holds run metadata (error rate, load average,
calibration probe, operation latency percentiles, peak RSS, first
failures). Inputs, oracle results and traces
are kept under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=10.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "umls2rdf_spark"))
    ):
        print("perfbench: program sources not found beside perfbench/", file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    import harness
    import tracing

    harness.configure_environment()
    if args.workload not in harness.WORKLOADS:
        parser.error(f"--workload must be one of {sorted(harness.WORKLOADS)}")
    # on SIGTERM, unwind so that every process this run started is ended
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = harness.run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        harness.stop_processes(
            [p for p in tracing.tree_pids(os.getpid()) if p != os.getpid()]
        )
    print(json.dumps(out["meta"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
