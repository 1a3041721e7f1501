"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 13 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
named in ``BENCHMARK.json``; ``--trace 1`` turns on the Spark event log and
prints the per-layer metrics instead, and writes the run's spans to
``.perfbench_out/``. Everything the run creates (corpus, warehouse, Spark
local dirs, event log) lives under ``.perfbench_tmp/`` and is removed at
exit. Progress and check failures go to stderr; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relational_mix", "llm_pipeline", "lake_ingest")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "bytewax_iceberg_connector_spark"))):
        print(f"perfbench: no engine sources in {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]

    from workloads import Run, hermetic_tmp

    tmp = hermetic_tmp(ROOT, args.workload)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    try:
        run.execute()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(tmp))
    if args.trace:
        run.tracer.write(os.path.join(
            ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.json"))
    values = run.layers if args.trace else run.metrics
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        # a layer a workload does not touch reads 0; every end-to-end
        # metric must have been measured
        "metrics": {m["name"]: {"value": float(values[m["name"]] if not args.trace
                                               else values.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in spec},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
