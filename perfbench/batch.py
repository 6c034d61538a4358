"""``batch`` workload: the two batch pipelines as one closed-loop job: a
``backfill`` (APM history through the batch operators) and a ``corpus``
preparation (the training-data operators), each on its own seeded input and
each submitted by its own client thread, side by side in one session. A job
ends when both have written every output; each half is checked against its
own DuckDB twins.

Why: it measures every batch layer of the package in one run, so one listed
workload covers both the APM operators and the training-data operators.
Neither half calls a streaming layer. Run side by side, the halves share the
cores the way two batch applications on one cluster do: the job takes a
little longer than the longer half alone, and a change that cuts either
half's work frees cores for the other.
"""

from __future__ import annotations

import os

import backfill
import corpus

PARTS = {"backfill": backfill, "corpus": corpus}


def prepare(seed: int, cache: str) -> dict:
    """Both halves' inputs and expected outputs, prepared side by side
    (their DuckDB twins release the GIL)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(PARTS)) as pool:
        futures = {name: pool.submit(part.prepare, seed, cache) for name, part in PARTS.items()}
        inp = {name: f.result() for name, f in futures.items()}
    inp["n_records"] = sum(inp[name]["n_records"] for name in PARTS)
    return inp


def pipeline(spark, inp: dict, out_dir: str, tr) -> dict:
    """Both halves in one session. Untraced they run side by side, one
    client thread each, and the job ends when both have finished; traced
    they run one after the other, so each span holds only its own layer's
    work."""
    from concurrent.futures import ThreadPoolExecutor

    from harness import Tracer

    def half(name, tracer):
        return PARTS[name].pipeline(spark, inp[name], os.path.join(out_dir, name), tracer)

    with tr.span("batch"):
        if tr.enabled:
            res = {name: half(name, tr) for name in PARTS}
        else:
            # a span stack is not shared between threads: each client gets its own
            with ThreadPoolExecutor(len(PARTS)) as pool:
                futures = {name: pool.submit(half, name, Tracer(None)) for name in PARTS}
                res = {name: f.result() for name, f in futures.items()}
    res["out"] = {name: res[name]["out"] for name in PARTS}
    return res


def oracle(inp: dict) -> dict:
    return {name: part.oracle(inp[name]) for name, part in PARTS.items()}


def check(o: dict, out: dict) -> list[str]:
    return [p for name, part in PARTS.items() for p in part.check(o[name], out[name])]


def counts(spark, inp: dict, res: dict, tr) -> dict:
    return {k: v for name, part in PARTS.items() for k, v in part.counts(spark, inp[name], res[name], tr).items()}
