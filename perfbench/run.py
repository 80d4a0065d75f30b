"""jsl-spark benchmark: one closed-loop workload at ``local[<cores>]``.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload validate_bulk --seed 42 --seconds 8 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

* ``validate_bulk`` - ``run_validation_job`` with one schema over a
  seeded 100k-document, 2%-defect corpus read from parquet;
* ``registry_core`` - a fixed core of the registry queries at sf0.01,
  results collected and compared with the DuckDB oracle.

Each run sets up Spark several times (``setup_s`` is the median), warms
up with one untimed operation, then runs operations one at a time until
``--seconds`` of operation time is measured. Every output is checked.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that turns on Spark's event log and in-memory spans and prints the
per-layer metrics. The last stdout line is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value", "unit"}}}

A per-layer metric a workload does not exercise reads 0. The layer map,
the predictions and the first baseline are in ``perfbench/LAYERS.md``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: Operation loops stop starting new work this long after launch, so a
#: slow host still ends the run well inside its 180 s limit.
LOOP_DEADLINE_S = 120


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "jsl_engine" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: no jsl_engine sources under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + LOOP_DEADLINE_S
    sys.path.insert(0, str(ROOT))

    import harness

    harness.prepare_workdir()
    if args.workload == "registry_core":
        import registry_workload as workload
    else:
        import validate_workload as workload
    try:
        result = workload.run(args.workload, args.seed, args.seconds, bool(args.trace), deadline)
    finally:
        harness.shutdown_jvm()
        harness.log("JVM stopped")

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    got = result["metrics"]
    metrics = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    complete = args.trace or all(got.get(m["name"], 0) > 0 for m in wanted)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0 and bool(complete),
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
