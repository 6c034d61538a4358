"""APM backend benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 25 --trace 0

Runs from the root of a checkout. Inputs are generated from ``--seed`` and
cached under ``.perfbench/cache``; everything else a run writes lives in a
work directory under ``.perfbench`` that is removed at exit. Progress goes
to stderr; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Workloads and metrics
are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("batch", "live", "backfill", "log_ingest", "corpus")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # a directory without the package fails here, before any output
    import apmbackend_spark  # noqa: F401

    import harness

    # every path out, a SIGTERM included, goes through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    harness.adopt_orphans()
    work = harness.WorkDir(ROOT)
    try:
        harness.configure_env(ROOT, work)
        wl = __import__(args.workload)
        cache = harness.cache_dir(ROOT, "inputs")
        t = time.perf_counter()
        inp = wl.prepare(args.seed, cache)
        log(f"{args.workload} seed={args.seed} inputs ready in {time.perf_counter() - t:.1f}s")
        with harness.RssSampler() as rss:
            spark, setup_s = harness.set_up(work, bool(args.trace))
            log(f"set-up {setup_s:.2f}s")
            if args.workload == "live":
                res = (wl.traced if args.trace else wl.run)(spark, inp, args.seconds, work, log)
            elif args.trace:
                res = harness.traced_job(spark, wl, inp, work, log)
            else:
                res = harness.closed_loop(spark, wl, inp, args.seconds, work, log)
        if args.trace:
            metrics = {k: metric(v, u) for k, (v, u) in res["layers"].items()}
            path = os.path.join(ROOT, harness.STATE_DIR, f"trace-{args.workload}-{args.seed}.jsonl")
            res["tracer"].dump(path)
            log(f"spans written to {path}")
            nesting = res["tracer"].check_nesting()
            if nesting:
                log(f"span tree invalid: {nesting}")
                res["failed"] += 1
        else:
            log(f"memory MB: max {rss.quantile_mb(1.0):.0f}, p95 {rss.quantile_mb(0.95):.0f}, p50 {rss.quantile_mb(0.5):.0f}")
            metrics = end_to_end(args.workload, res, setup_s, rss.quantile_mb(1.0))
        result = {
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }
    finally:
        harness.stop_processes()
        work.close()
    print(json.dumps(result))
    return 0


def end_to_end(workload: str, res: dict, setup_s: float, peak_mb: float) -> dict:
    """The end-to-end metrics, the same names on every workload. For a
    batch workload every output of a job is emitted when the job finishes,
    so its result latency is the job's wall time."""
    if workload == "live":
        # a run without samples has failed; it reports how late it is at least
        lat, rate = res["latencies"] or [res["latency_floor_s"]], res["records_per_s"]
    else:
        lat = res["times"]
        rate = res["n_records"] / statistics.median(lat)
    log(f"latency samples {len(lat)}, {int(len(lat) * 0.01)} above p99")
    return {
        "setup_s": metric(setup_s, "s"),
        "records_per_s": metric(rate, "1/s"),
        "result_latency_p50_s": metric(statistics.median(lat), "s"),
        "result_latency_p99_s": metric(quantile(lat, 0.99), "s"),
        "ok_ratio": metric((res["attempted"] - res["failed"]) / res["attempted"], "ratio"),
        "peak_rss_mb": metric(peak_mb, "MB"),
    }


if __name__ == "__main__":
    sys.exit(main())
