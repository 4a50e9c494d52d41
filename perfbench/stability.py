"""Stability mode: run each workload of BENCHMARK.json ten times, with
seeds 101-110, and print per end-to-end metric the median, the quartiles and the
spread (interquartile range over the median) against the metric's bound
in BENCHMARK.json; then one traced run per workload, whose query median
against the untraced one is the tracing overhead.

    python3 perfbench/run.py --stability
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
RUNS = 10
FIRST_SEED = 101


def _one(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, float, float]:
    """One run in a child process: (result, wall seconds, host steal %)."""
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}")
    m = re.search(r"host steal ([0-9.]+)%", p.stderr)
    return json.loads(p.stdout.strip().splitlines()[-1]), wall, float(m.group(1)) if m else float("nan")


def stability(seconds: float) -> int:
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    report: dict = {"runs": RUNS, "seconds": seconds, "workloads": {}}
    ok = True
    for w in workloads:
        results, walls, steals = [], [], []
        for i in range(RUNS):
            r, wall, steal = _one(w, FIRST_SEED + i, seconds, 0)
            results.append(r)
            walls.append(wall)
            steals.append(steal)
            print(f"{w} seed {FIRST_SEED + i}: {wall:.1f}s, host steal {steal:.1f}%, correct={r['correct']}, "
                  f"failed {r['failed']}/{r['attempted']}", flush=True)
        rows = {}
        print(f"\n{w}: {RUNS} runs, wall median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
        print(f"  {'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "steady" if spread <= bound / 3 else "within bound" if spread <= bound else "TOO WIDE"
            if flag == "TOO WIDE":
                ok = False
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound, "values": vals}
            print(f"  {name:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {bound:6.2f} {flag}")
        shares = {r["failed"] / r["attempted"] for r in results}
        correct = all(r["correct"] for r in results)
        ok = ok and correct and len(shares) == 1
        print(f"  all correct: {correct}; failed shares: {sorted(shares)}")
        traced, twall, _ = _one(w, FIRST_SEED, seconds, 1)
        t_q = traced["metrics"]["trace.query_p50_ms"]["value"]
        overhead = t_q / rows["query_p50_ms"]["median"] - 1.0
        print(f"  traced run: {twall:.1f}s, query p50 {t_q:.1f} ms vs untraced median "
              f"{rows['query_p50_ms']['median']:.1f} ms ({100 * overhead:+.1f}%), span cost "
              f"{traced['metrics']['trace.overhead_pct']['value']:.4f}% of the window, "
              f"{traced['metrics']['trace.flagged_calls']['value']} flagged calls\n")
        report["workloads"][w] = {
            "metrics": rows, "walls": walls, "host_steal_pct": steals, "correct": correct, "failed_shares": sorted(shares),
            "traced": traced["metrics"], "traced_wall": twall, "tracing_overhead": overhead,
        }
    os.makedirs(".perfbench", exist_ok=True)
    path = os.path.join(".perfbench", f"stability-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"written to {path}")
    return 0 if ok else 1
