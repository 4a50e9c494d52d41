"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --stability

Run from the root of a checkout of the repository.  One run prints one
line per operation type (attempted and failed counts), then, as its last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run also writes its spans and
per-layer self-time summary to ``.perfbench/trace-<workload>-<seed>.json``.

All files a run writes go to a fresh directory under ``.perfbench/`` in
the working directory, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, help="default: run_seconds in BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--stability", action="store_true", help="run each workload ten times and print spreads")
    return p.parse_args(argv)


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "whoosh_novo_spark")):
        print("perfbench: run from the repository root (no whoosh_novo_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(HERE))
    if a.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]
    if a.stability:
        from perfbench.stability import stability

        return stability(a.seconds)
    from perfbench.workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS, CheckFailed, Run

    if a.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    # PySpark, the JVM and the package zip all write temp files here
    os.environ["TMPDIR"] = work
    import tempfile

    tempfile.tempdir = None
    run = Run(WORKLOADS[a.workload], a.seed, a.seconds, bool(a.trace), work)
    try:
        out = run.run()
    except CheckFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    for p in run.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    ops = sorted(set(run.attempted) | set(run.failed))
    for op in ops:
        print(f"op {op}: attempted {run.attempted[op]} failed {run.failed[op]}")
    if a.trace:
        path = os.path.join(OUT_DIR, f"trace-{a.workload}-{a.seed}.json")
        run.tracer.dump(path, {"summary": run.trace_summary, "requests": run.req_text,
                               "bursts": run.per_burst, "layers": out["layers"]})
        s = run.trace_summary
        print(f"trace: {len(run.tracer.spans)} spans, {s['top_level_calls']} calls, "
              f"{len(s['flagged'])} flagged (layers >10% off wall), written to {path}")
        values, units = out["layers"], LAYER_UNITS
    else:
        values, units = out["e2e"], E2E_UNITS
    result = {
        "correct": not run.problems,
        "attempted": sum(run.attempted.values()),
        "failed": sum(run.failed.values()),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
