"""Benchmark entry point.

    python3 perfbench/run.py --workload {spatial,web_ingest}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The run makes every input and reference
answer from the seed, then sets up: it starts a session, loads the
inputs into it and runs the workload's WARMUPS untimed warm-up requests.
Then it sends requests one at a time, checking each result against the
reference, until S seconds of request time have passed and at least
MIN_REQUESTS requests have been made. It prints a readable
summary and, as its last line, one JSON object ``{"correct",
"attempted", "failed", "metrics"}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``.perfbench/traces/<workload>-seed<N>.json``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_REQUESTS = 3
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least
    TAIL_BEYOND samples above it; with fewer samples than that, the
    maximum (reported as percentile 100)."""
    s = sorted(values)
    n = len(s)
    if n <= TAIL_BEYOND:
        return 100.0, s[-1]
    return 100.0 * (n - TAIL_BEYOND) / n, s[n - TAIL_BEYOND - 1]


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    import host
    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    args = parse_args(argv)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return run(args, work, out_dir, host, layers, Tracer, WORKLOADS)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, out_dir, host, layers, Tracer, WORKLOADS) -> int:
    facts = host.facts()
    n_cores = facts["cores"]
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work)
    gen_s = time.perf_counter() - t0

    # set-up: session start, input load, warm-up requests (JIT, codegen
    # caches and Python workers). The first warm-up takes about twice a
    # warm request; request times keep falling for a few requests more
    t0 = time.perf_counter()
    spark = host.start_session(work, n_cores)
    t1 = time.perf_counter()
    try:
        wl.load(spark)
        t2 = time.perf_counter()
        for i in range(1, wl.WARMUPS + 1):
            wl.request(-i, Tracer(spark, enabled=False))
        t3 = time.perf_counter()
        start_s, load_s, warm_s = t1 - t0, t2 - t1, t3 - t2

        tracer = Tracer(spark, enabled=bool(args.trace))
        times, outcomes, extras = [], [], []
        with host.RssSampler(host.jvm_pid()) as rss:
            busy = 0.0
            i = 0
            while busy < args.seconds or i < MIN_REQUESTS:
                r0 = time.perf_counter()
                ok = False
                try:
                    with tracer.request(i):
                        out = wl.request(i, tracer)
                    r1 = time.perf_counter()
                    ok = wl.check(i, out)
                    extras.append(layers.request_extras(wl, out))
                    if hasattr(wl, "cleanup"):
                        wl.cleanup(out)
                except Exception:  # a failed request is counted, the loop goes on
                    r1 = time.perf_counter()
                    traceback.print_exc()
                    extras.append({})
                times.append(r1 - r0)
                outcomes.append(ok)
                busy += r1 - r0
                i += 1
            peak_rss = rss.peak

        attempted = len(times)
        failed = outcomes.count(False)
        pct, tail_s = tail(times)
        e2e = {
            "setup_s": (start_s + load_s + warm_s, "s"),
            "query_s.p50": (statistics.median(times), "s"),
            "query_s.tail": (tail_s, "s"),
            "rows_per_s": (attempted * wl.rows_per_request / sum(times), "rows/s"),
        }
        # printed but not gated: peak RSS moves by ~20% between runs with the
        # number of Python workers alive at the peak, and failed_frac is 0
        info = {
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
            "failed_frac": (failed / attempted, "1"),
            **layers.workload_e2e(wl, extras),
        }

        print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
        print("host " + json.dumps(facts, sort_keys=True))
        print(f"inputs generated and checked against the reference in {gen_s:.2f} s (not part of set-up)")
        print(
            f"closed loop, 1 client: {attempted} requests, {failed} failed; "
            f"tail = p{pct:.1f} of {attempted}; rows = {wl.row_unit}, {wl.rows_per_request} per request"
        )
        print(
            "request s: " + " ".join(f"{t:.3f}" for t in times)
            + f"; set-up: start {start_s:.3f} s, load {load_s:.3f} s, {wl.WARMUPS} warm-ups {warm_s:.3f} s"
        )
        for name, (v, unit) in {**e2e, **info}.items():
            print(f"  {name:<32} {v:>14.6g} {unit}")

        if args.trace:
            tracer.resolve()
            metrics = layers.per_layer(wl, tracer, extras, start_s, load_s, warm_s)
            metrics["spark.peak_rss_mb"] = peak_rss / 2**20
            import kernel_run

            metrics.update(kernel_run.run(args.seed))
            flagged = metrics["trace.flagged_requests"]
            for name in sorted(metrics):
                print(f"  {name:<64} {metrics[name]:>14.6g}")
            if flagged:
                print(f"WARNING: {int(flagged)} request(s) whose layer self-times miss wall time by >15%")
            os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
            with open(os.path.join(out_dir, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(layers.dump_spans(tracer, facts, e2e, info), f, indent=1)
            result_metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in metrics.items()}
        else:
            result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        host.stop_session(spark)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result_metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
