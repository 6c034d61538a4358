"""``backfill`` workload: a closed-loop batch history backfill, one client.

Generated events (parquet) -> ``load_tx`` -> ``st_zerofill_dense`` (which runs
``window_stats`` inside) -> ``zscore_window_chunked`` -> ``alert_pipeline``,
with tx/st/fs/al fanned into ``db_fanin``. A job ends when the fs and alert
frames and the fan-in envelope are fully written as parquet.

Why: the batch operators do almost all of the work here; the source is a
parquet scan and no streaming code runs. Cost scales with keys x span (the
dense grid) and with events per hot key (the exact percentile arrays).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import gen
from check import DuckOracle

N_EVENTS = 8_000
HOURS = 1.5
N_SERVICES = 6  # x 4 servers = 24 keys
LAGS = (60, 360)
CHUNK_INTERVALS = 360
THRESHOLD = 3.0


def alert_config():
    from apmbackend_spark.operators.alerts import AlertConfig

    # short debounce window so the planted latency steps fire within the span
    return AlertConfig(
        hard_max_ms=20000.0,
        hard_min_ms=200.0,
        min_tpm=0.1,
        alert_on_both_only=True,
        suppressed_lags=(360,),
        window_size=6,
        required_bad=3,
        cooldown_minutes=60.0,
    )


def prepare(seed: int, cache: str) -> dict:
    """Events for ``seed`` and their expected outputs, under ``cache``
    (computed once per seed)."""
    sf_dir = os.path.join(cache, f"backfill-{seed}-{N_EVENTS}-{HOURS}-{N_SERVICES}")
    if not os.path.exists(os.path.join(sf_dir, "expected.json")):
        gen.write_events(gen.events_table(seed, N_EVENTS, HOURS, N_SERVICES), sf_dir)
        build_oracle(sf_dir).save(sf_dir)
    return {"sf_dir": sf_dir, "n_records": N_EVENTS}


def pipeline(spark, inp: dict, out_dir: str, tr) -> dict:
    """One complete backfill with a span around each layer call; returns
    the written output paths and the frames at the seams. tx/st/fs each
    feed more than one sink, so each seam is materialized
    (``localCheckpoint``) and the chain runs once (the same seams as the
    db_fanin registered query). When
    tracing, ``st_zerofill_dense``'s internal ``window_stats`` call gets a
    span of its own."""
    from apmbackend_spark.operators import alerts as al
    from apmbackend_spark.operators import ordering as od
    from apmbackend_spark.operators import zerofill as zf
    from apmbackend_spark.operators import zscore as zs
    from apmbackend_spark.sources.tx import load_tx

    out = {k: os.path.join(out_dir, k) for k in ("fs", "al", "fanin")}
    with tr.span("backfill"):
        with tr.span("tx"):
            tx = load_tx(spark, inp["sf_dir"]).localCheckpoint()
        with tr.span("zerofill"), tr.split(zf, {"window_stats": "window_stats"}):
            st = zf.st_zerofill_dense(tx, slice_ms=None).localCheckpoint()
        with tr.span("zscore"):
            fs = zs.zscore_window_chunked(
                st, lags=LAGS, threshold=THRESHOLD, chunk_intervals=CHUNK_INTERVALS
            ).localCheckpoint()
        with tr.span("alerts"):
            alerts = al.alert_pipeline(fs, alert_config()).localCheckpoint()
        fs.write.mode("overwrite").parquet(out["fs"])
        alerts.write.mode("overwrite").parquet(out["al"])
        with tr.span("ordering"):
            od.db_fanin(
                {
                    "tx": tx.withColumn("ts", F.col("endts")),
                    "st": st.withColumn("ts", F.col("timestamp")),
                    "fs": fs.withColumn("ts", F.col("timestamp")),
                    "al": alerts.withColumn("ts", F.col("entrytimestamp")),
                }
            ).write.mode("overwrite").parquet(out["fanin"])
    return {"out": out, "tx": tx, "st": st, "fs": fs, "al": alerts}


def oracle(inp: dict) -> DuckOracle:
    """The expected outputs ``prepare`` saved."""
    return DuckOracle.load(inp["sf_dir"])


def build_oracle(sf_dir: str) -> DuckOracle:
    """DuckDB twins of the job's outputs over the same events file."""
    from apmbackend_spark.operators import alerts as al
    from apmbackend_spark.operators import zerofill as zf
    from apmbackend_spark.operators import zscore as zs
    from apmbackend_spark.operators.window_stats import window_stats_oracle_ctes
    from apmbackend_spark.sources.tx import TX_CTE

    # slice_ms=None: the dense grid spans the whole of tx
    dense_st = TX_CTE + window_stats_oracle_ctes() + zf.st_zerofill_dense_oracle_cte()
    fs_sql = dense_st + zs.zscore_oracle_select(lags=LAGS, threshold=THRESHOLD)
    al_sql = (
        dense_st
        + ", fs AS ("
        + zs.zscore_oracle_select(lags=LAGS, threshold=THRESHOLD)
        + ")"
        + al.alert_pipeline_oracle_sql(alert_config())
    ).replace("WITH tx AS", "WITH RECURSIVE tx AS", 1)
    st_count_sql = dense_st + " SELECT COUNT(*) FROM st"
    o = DuckOracle({"events": os.path.join(sf_dir, "events.parquet")}, threads=os.cpu_count())
    o.materialize("fs", fs_sql)
    o.materialize("al", al_sql)
    o.counts = {
        "tx": o.scalar("SELECT COUNT(*) FROM events"),
        "st": o.scalar(st_count_sql),
        "fs": o.scalar("SELECT COUNT(*) FROM fs"),
        "al": o.scalar("SELECT COUNT(*) FROM al"),
    }
    return o


def check(o: DuckOracle, out: dict[str, str]) -> list[str]:
    """Problems with one job's written output (empty list = correct)."""
    problems = o.diff("fs", out["fs"]) + o.diff("al", out["al"])
    got = dict(
        o.con.sql(
            f"SELECT rectype, COUNT(*) FROM read_parquet('{out['fanin']}/*.parquet') GROUP BY 1"
        ).fetchall()
    )
    if got != o.counts:
        problems.append(f"fan-in counts {got} != expected {o.counts}")
    return problems


def counts(spark, inp: dict, res: dict, tr) -> dict:
    """Per-layer row counts of a traced job."""
    from apmbackend_spark.operators import alerts as al

    st = res["st"]
    span_ms = CHUNK_INTERVALS * 10_000
    carry_ms = max(LAGS) * 10_000
    own = F.expr(f"timestamp DIV {span_ms}")
    n = {
        "tx": res["tx"].count(),
        "ws": tr.outputs["window_stats"].count(),
        "st": st.count(),
        "fs": res["fs"].count(),
        "al": res["al"].count(),
        "carry": st.where(F.col("timestamp") >= (own + 1) * span_ms - carry_ms).count(),
        "cand": al.alert_candidates(res["fs"], alert_config()).count(),
        "fanin": spark.read.parquet(res["out"]["fanin"]).count(),
    }
    return {
        "tx.rows_out": (n["tx"], "count"),
        "window_stats.rows_in": (n["tx"], "count"),
        "window_stats.rows_out": (n["ws"], "count"),
        "zerofill.rows_out": (n["st"], "count"),
        "zerofill.fill_ratio": ((n["st"] - n["ws"]) / n["st"], "ratio"),
        "zscore.rows_out": (n["fs"], "count"),
        "zscore.carry_ratio": ((n["st"] + n["carry"]) / n["st"], "ratio"),
        "alerts.candidates": (n["cand"], "count"),
        "alerts.fired": (n["al"], "count"),
        "ordering.rows_out": (n["fanin"], "count"),
    }
