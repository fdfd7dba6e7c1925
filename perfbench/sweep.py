"""Repeat the benchmark over seeds and summarise its steadiness.

    python3 perfbench/sweep.py --workloads spatial web_ingest \
        --seeds 1 2 3 4 5 6 7 8 9 10 --traced-seeds 1 --out perfbench/results

For every workload: one untraced run per seed, then one traced run per
traced seed. Per end-to-end metric it reports the median over seeds and
the quartile spread (Q3 - Q1 of ``statistics.quantiles(n=4)``, as a
share of the median) next to the metric's bound from BENCHMARK.json.
The tracing overhead is the traced run's median request time over the
untraced run's ``query_s.p50`` on the same seed, minus one. Each
untraced run's wall time (process start to exit) is kept too. Writes
``<out>/<workload>.json`` and prints a summary table.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.perf_counter() - t0
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--traced-seeds", nargs="*", type=int, default=[])
    ap.add_argument("--out", default=os.path.join(HERE, "results"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(args.out, exist_ok=True)
    for w in args.workloads:
        runs = {s: one_run(w, s, bench["run_seconds"], 0) for s in args.seeds}
        traced = {s: one_run(w, s, bench["run_seconds"], 1) for s in args.traced_seeds}
        summary = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs.values()]
            summary[name] = {
                "median": statistics.median(vals),
                "quartile_spread": spread(vals) if len(vals) >= 2 else None,
                "bound": bounds[name],
                "values": vals,
            }
        overhead = {
            s: t["metrics"]["trace.request_s"]["value"] / runs[s]["metrics"]["query_s.p50"]["value"] - 1.0
            for s, t in traced.items()
            if s in runs
        }
        doc = {
            "workload": w,
            "seeds": args.seeds,
            "run_seconds": bench["run_seconds"],
            "attempted": sum(r["attempted"] for r in runs.values()),
            "run_wall_s": [r["wall_s"] for r in runs.values()],
            "failed": sum(r["failed"] for r in runs.values()),
            "end_to_end": summary,
            "tracing_overhead": overhead,
            "traced": {s: t for s, t in traced.items()},
        }
        with open(os.path.join(args.out, f"{w}.json"), "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(
            f"{w}: {doc['attempted']} requests, {doc['failed']} failed; "
            f"median run wall {statistics.median(doc['run_wall_s']):.1f} s; tracing overhead {overhead}"
        )
        for name, s in summary.items():
            sp = s["quartile_spread"]
            print(f"  {name:<16} median {s['median']:>12.6g}  spread {sp if sp is None else round(sp, 4)}  bound {s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
