"""``log_ingest`` workload: closed-loop batch ingest of raw WildFly logs.

``sources.loggen.generate`` writes the logs of ``N_SERVERS`` servers (the
reference tails ~70 files per host group). Bounded files go through
``parse_logs``; the APP/SERVER files of the few oversized servers are routed
to ``parse_logs_chunked``, as the ``parse_logs`` size-guard docstring
prescribes. The parsed records then go through ``enrich_tx`` and
``window_stats``. A job ends when the enriched tx and the window stats are
written as parquet; both are checked against loggen's golden ``expected``
records (tx directly, window stats through their DuckDB twin).

Why: Python per-file parsing and the J2 account join dominate;
``window_stats`` repeats backfill's job on a different input shape, and
z-score and alerts are not touched.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from check import DuckOracle

N_SERVERS = 70
N_PER_KIND = 100
N_BIG = 3
BIG_FACTOR = 8
ROUTE_BYTES = 128 << 10  # files above this go to the chunked parser
CHUNK_BYTES = 32 << 10
TX_COLS = ("server", "service", "logid", "acctnum", "startts", "endts", "elapsed", "toplevel", "matched")


def prepare(seed: int, cache: str) -> dict:
    """The log tree for ``seed`` and its expected tx records and window
    stats, under ``cache`` (written once per seed)."""
    from apmbackend_spark.operators.window_stats import window_stats_oracle_sql

    d = os.path.join(cache, f"logs-{seed}-{N_SERVERS}-{N_PER_KIND}-{N_BIG}x{BIG_FACTOR}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        _, g = gen.log_corpus(seed, N_SERVERS, N_PER_KIND, N_BIG, BIG_FACTOR)
        g.write(d)
        rows = [{c: e[c] for c in TX_COLS} for e in g.expected]
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "expected_tx.parquet"))
        o = DuckOracle({"expected": os.path.join(d, "expected_tx.parquet")}, threads=os.cpu_count())
        ws_sql = "WITH tx AS (SELECT * FROM expected)" + window_stats_oracle_sql()
        o.con.execute(f"COPY ({ws_sql}) TO '{d}/expected_ws.parquet' (FORMAT parquet)")
        paths = sorted(glob.glob(f"{d}/logs/*/*.log"))
        with open(meta + ".tmp", "w") as f:
            json.dump({"lines": sum(len(v) for v in g.files.values()), "files": len(paths)}, f)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        info = json.load(f)
    bounded, oversized = route(sorted(glob.glob(f"{d}/logs/*/*.log")))
    return {"dir": d, "bounded": bounded, "oversized": oversized, "n_records": info["lines"]}


def route(paths: list[str]) -> tuple[list[str], list[str]]:
    """(wholetext files, chunked files): APP/SERVER files above the size
    threshold take the chunked parser; SOAP files always stay whole."""
    from apmbackend_spark.sources.logparse import classify_file

    big = [p for p in paths if classify_file(p) != "SOAP" and os.path.getsize(p) > ROUTE_BYTES]
    return [p for p in paths if p not in set(big)], big


def pipeline(spark, inp: dict, out_dir: str, tr) -> dict:
    """One ingest with a span around each layer call; returns the written
    output paths and the frames at the seams."""
    from apmbackend_spark.operators.window_stats import window_stats
    from apmbackend_spark.sources.logchunk import parse_logs_chunked
    from apmbackend_spark.sources.logparse import enrich_tx, parse_logs

    out = {k: os.path.join(out_dir, k) for k in ("tx", "ws")}
    with tr.span("log_ingest"):
        with tr.span("logparse"):
            whole = parse_logs(spark, inp["bounded"]).localCheckpoint()
        with tr.span("logchunk"):
            chunked = parse_logs_chunked(spark, inp["oversized"], chunk_bytes=CHUNK_BYTES).localCheckpoint()
        with tr.span("enrich"):
            tx = enrich_tx(whole.unionByName(chunked)).localCheckpoint()
        tx.write.mode("overwrite").parquet(out["tx"])
        with tr.span("window_stats"):
            ws = window_stats(tx).localCheckpoint()
        ws.write.mode("overwrite").parquet(out["ws"])
    return {"out": out, "chunked": chunked, "tx": tx, "ws": ws}


def check(o: DuckOracle, out: dict[str, str]) -> list[str]:
    return o.diff("tx", out["tx"]) + o.diff("ws", out["ws"])


def oracle(inp: dict) -> DuckOracle:
    d = inp["dir"]
    return DuckOracle({"tx": f"{d}/expected_tx.parquet", "ws": f"{d}/expected_ws.parquet"})


def counts(spark, inp: dict, res: dict, tr) -> dict:
    """Per-layer counts of a traced job."""
    from apmbackend_spark.sources import logchunk

    n_tx = res["tx"].count()
    chunks = logchunk._list_chunks(inp["oversized"], CHUNK_BYTES)
    spill = sum(_spill_records(p, off, size) for p, off, size in chunks)
    n_chunk_tx = res["chunked"].where("rectype = 'tx'").count()
    enrich = next(s for s in tr.spans if s["name"] == "enrich")
    return {
        "logparse.lines_in": (inp["n_records"], "count"),
        "logparse.tx_out": (n_tx, "count"),
        "logparse.enrich_busy_s": (tr.self_times()[enrich["id"]], "s"),
        "logchunk.chunks": (len(chunks), "count"),
        "logchunk.spill_ratio": (spill / max(n_chunk_tx, 1), "ratio"),
        "window_stats.rows_in": (n_tx, "count"),
        "window_stats.rows_out": (res["ws"].count(), "count"),
    }


def _spill_records(path: str, off: int, size: int) -> int:
    """Cross-chunk repair records one chunk emits: leftover starts, kill
    markers and stops unmatched inside the chunk (the chunk scan's own
    parser, run on the driver for the count only)."""
    from apmbackend_spark.sources import logchunk

    recs = logchunk._parse_ct_chunk(path, logchunk._read_chunk_lines(path, off, size))
    return sum(
        1 for r in recs
        if r["rectype"] in ("pend", "kill") or (r["rectype"] == "tx" and r.get("matched") == "N")
    )
