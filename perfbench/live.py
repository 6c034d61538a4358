"""``live`` workload: the four APM stages as concurrent Structured Streaming
queries fed by an open-loop event generator.

A generator thread writes one events file every ``FILE_S`` wall seconds on a
fixed schedule that does not slow down when the system does, and records
each file's creation time. Event time is replayed ``SPEEDUP`` times faster
than wall time, so 300 s windows and the 60 s watermark close during the
run. The stages are wired the way ``run_apm_topology_concurrent`` wires them,
with parquet handoff directories: ``tx_stream`` -> ``window_stats_stream``
-> ``zscore_stateful`` -> ``alerts_stateful``. The z-score stage's sink is a
foreachBatch that writes the handoff and stamps each fs row's emission time;
the alert stage's sink is a foreachBatch standing in for the DB insert.

Result latency of an fs row = its emission time minus the creation time of
the file holding the last event of its 300 s window. Rows emitted during
the warm-up period are not measured. ``judge`` turns a stopped run into
latency samples and a verdict.

Why: per-micro-batch fixed costs, the state store and the Python stateful
operators dominate; the batch operators are not used at all.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np

import gen
from check import DuckOracle
from harness import engine_metrics

# 500 events/s is what this pipeline sustains on 4 cores; at 1000/s the
# first stage falls behind and latency grows for as long as the run lasts
RATE = 500  # events per wall second
FILE_S = 1.0  # one file per second
SPEEDUP = 60  # event-time seconds per wall second
N_SERVICES = 10  # x 4 servers = 40 keys
LAGS = (30, 60)
THRESHOLD = 3.0
INFLUENCE = 0.1
WATERMARK_MS = 60_000
WINDOW_MS = 300_000
WARMUP_S = 15.0
# A measured fs row later than this fails, and so does a row still pending
# at the stop whose last event was written longer than this before it. The
# run must last DUE_S longer than the limit, so that the rows of at least
# the first DUE_S of input are due by the stop and a stalled stage fails.
LATENCY_LIMIT_S = 35.0
DUE_S = 5.0
TRIGGER = "300 milliseconds"
FILE_EVENT_MS = int(FILE_S * SPEEDUP * 1000)
EVENTS_PER_FILE = int(RATE * FILE_S)


def alert_config():
    from apmbackend_spark.operators.alerts import AlertConfig

    return AlertConfig(
        hard_max_ms=20000.0,
        hard_min_ms=200.0,
        min_tpm=0.1,
        alert_on_both_only=False,
        window_size=6,
        required_bad=3,
        cooldown_minutes=30.0,
    )


def file_table(seed: int, i: int):
    """Events of file ``i``: event time in [BASE + i * FILE_EVENT_MS,
    BASE + (i + 1) * FILE_EVENT_MS), so no event is ever behind the
    watermark."""
    rng = np.random.default_rng([seed, i])
    t0 = gen.BASE_MS + i * FILE_EVENT_MS
    # a latency step on hot keys for two minutes of event time every ten
    anomalies = []
    if (i * FILE_EVENT_MS // 120_000) % 5 == 2:
        anomalies = [(k, k % gen.N_SERVERS, t0, t0 + FILE_EVENT_MS) for k in range(3)]
    cols = gen.event_columns(
        rng, EVENTS_PER_FILE, t0, t0 + FILE_EVENT_MS, N_SERVICES,
        first_event_id=i * EVENTS_PER_FILE, anomalies=anomalies,
    )
    return gen.to_arrow(cols), cols


def prepare(seed: int, cache: str) -> dict:
    # files are produced during the run by the generator; nothing to cache
    return {"seed": seed}


class Generator(threading.Thread):
    """Open-loop file writer: file i is due at start + i * FILE_S."""

    def __init__(self, seed: int, out_dir: str, staging: str):
        super().__init__(daemon=True)
        self.seed, self.out_dir, self.staging = seed, out_dir, staging
        self.created: list[float] = []  # wall time each file became visible
        self.late: list[float] = []
        self.keys: dict[tuple[str, str], list[np.ndarray]] = {}
        self.start_at = None
        self._halt = threading.Event()
        self.error = None

    def write(self, i: int) -> None:
        import pyarrow.parquet as pq

        table, cols = file_table(self.seed, i)
        tmp = os.path.join(self.staging, f"ev-{i:05d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.out_dir, f"ev-{i:05d}.parquet"))
        self.created.append(time.time())
        self.record(cols)

    def record(self, cols) -> None:
        """Keep each key's event end times (ms) for latency attribution,
        keyed the way tx_from_events maps events to (server, service)."""
        server = cols["user_id"] % gen.N_SERVERS
        for (s, name), ts in _group(server, cols["event_type"], cols["ts_ms"]):
            service = f"S:{name}" if name in ("signup", "purchase") else name
            self.keys.setdefault((f"srv{s}", service), []).append(ts)

    def run(self) -> None:
        try:
            i = len(self.created)
            while not self._halt.is_set():
                due = self.start_at + i * FILE_S
                now = time.time()
                if due > now:
                    if self._halt.wait(due - now):
                        break
                self.late.append(max(0.0, time.time() - due))
                self.write(i)
                i += 1
        except Exception as e:  # surfaced by the caller after join
            self.error = e

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=30)

    def last_event_files(self, server: str, service: str, win_start: np.ndarray) -> np.ndarray:
        """For each window start, the index of the file holding the key's
        last event in [win_start, win_start + WINDOW_MS)."""
        ts = np.sort(np.concatenate(self.keys[(server, service)]))
        idx = np.searchsorted(ts, win_start + WINDOW_MS, side="left") - 1
        last = ts[idx]
        if np.any(idx < 0) or np.any(last < win_start):
            raise ValueError(f"emitted window without events for {server}/{service}")
        return (last - gen.BASE_MS) // FILE_EVENT_MS


def _group(server: np.ndarray, event_type: np.ndarray, ts: np.ndarray):
    """((server, event_type), end times) per distinct pair."""
    order = np.lexsort((event_type, server))
    server, event_type, ts = server[order], event_type[order], ts[order]
    cut = np.flatnonzero((server[1:] != server[:-1]) | (event_type[1:] != event_type[:-1])) + 1
    for lo, hi in zip(np.r_[0, cut], np.r_[cut, len(ts)]):
        yield (int(server[lo]), str(event_type[lo])), ts[lo:hi]


def start_topology(spark, d: dict[str, str], on_fs_batch, on_al_batch):
    """The four stages as concurrently running queries."""
    from pyspark.sql import functions as F

    from apmbackend_spark.streaming.pipeline import tx_stream, window_stats_stream
    from apmbackend_spark.streaming.stateful import alerts_stateful, zscore_stateful
    from apmbackend_spark.streaming.topology import (
        ST_HANDOFF_SCHEMA,
        TX_HANDOFF_SCHEMA,
        _fs_handoff_schema,
    )

    def file_sink(df, name):
        return (
            df.writeStream.format("parquet")
            .option("path", d[name])
            .option("checkpointLocation", d[f"ckpt_{name}"])
            .outputMode("append")
            .trigger(processingTime=TRIGGER)
            .queryName(name)
            .start()
        )

    # one shuffle (state-store) partition per core; the session default is
    # max(cores, 8). At 8 on 4 cores each stateful stage's micro-batch took
    # 5-8 s, so the measured window held two to four fs batches: the fs
    # latency p50 ranged 20-30 s over five seeds, and a slow cold start made
    # one of them miss the latency limit. At one per core the fs stage emits
    # about every 3 s, and each micro-batch still pays a task, a state-store
    # commit and a Python worker call per partition.
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    tx = tx_stream(spark, d["events"]).select(
        "logid", "server", "service", "acctnum", "startts", "endts", "elapsed", "toplevel"
    )
    q_tx = file_sink(tx, "tx")
    tx_in = spark.readStream.schema(TX_HANDOFF_SCHEMA).parquet(d["tx"]).withColumn(
        "endtime", F.timestamp_millis(F.col("endts"))
    )
    st = window_stats_stream(tx_in, watermark=f"{WATERMARK_MS // 1000} seconds").select(
        F.col("win_start").alias("timestamp"),
        "server",
        "service",
        "tpm",
        F.round(F.col("avg_ms"), 0).alias("average"),
        F.round(F.col("p75"), 0).alias("per75"),
        F.round(F.col("p95"), 0).alias("per95"),
    )
    q_st = file_sink(st, "st")
    st_in = spark.readStream.schema(ST_HANDOFF_SCHEMA).parquet(d["st"])
    fs = zscore_stateful(st_in, lags=LAGS, threshold=THRESHOLD, influence=INFLUENCE)
    q_fs = (
        fs.writeStream.foreachBatch(on_fs_batch)
        .option("checkpointLocation", d["ckpt_fs"])
        .trigger(processingTime=TRIGGER)
        .queryName("fs")
        .start()
    )
    fs_in = spark.readStream.schema(_fs_handoff_schema()).parquet(d["fs"])
    q_al = (
        alerts_stateful(fs_in, alert_config())
        .writeStream.foreachBatch(on_al_batch)
        .option("checkpointLocation", d["ckpt_al"])
        .trigger(processingTime=TRIGGER)
        .queryName("al")
        .start()
    )
    return {"tx": q_tx, "st": q_st, "fs": q_fs, "al": q_al}


def batch_twin(events_dir: str):
    """Expected fs and alert rows for the files in ``events_dir``, computed
    without Spark: the DuckDB twin of the window stats, restricted to the
    windows the final watermark closes (end <= max event time - 60 s), the
    package's exact recursive z-score scan (``zscore_recursive_py``, the
    body of the batch ``zscore_recursive``) per key, and the DuckDB twin of
    ``alert_pipeline`` over that fs frame."""
    import pandas as pd

    from apmbackend_spark.operators.alerts import alert_pipeline_oracle_sql
    from apmbackend_spark.operators.window_stats import window_stats_oracle_ctes
    from apmbackend_spark.operators.zscore import ST_ORACLE_CTE, zscore_recursive_py
    from apmbackend_spark.sources.tx import TX_CTE

    o = DuckOracle({"events": os.path.join(events_dir, "*.parquet")})
    st = o.con.sql(
        TX_CTE
        + window_stats_oracle_ctes()
        + ST_ORACLE_CTE
        + f"""
SELECT * FROM st
WHERE timestamp + {WINDOW_MS} <= (SELECT MAX(endts) FROM tx) - {WATERMARK_MS}"""
    ).df()
    fs = pd.concat(
        [
            zscore_recursive_py(g, LAGS, THRESHOLD, INFLUENCE)
            for _, g in st.groupby(["server", "service"], sort=True)
        ],
        ignore_index=True,
    )
    o.con.register("fs_frame", fs)
    o.materialize("fs", "SELECT * FROM fs_frame")
    o.materialize(
        "al",
        "WITH RECURSIVE fs_in AS (SELECT * FROM fs)"
        + alert_pipeline_oracle_sql(alert_config(), fs_cte="fs_in"),
    )
    return o


def _source_log(ckpt: str) -> list[tuple[int, str]]:
    """(batch id, file name) for every file a file-stream source took,
    from the source's metadata log (including compacted log files)."""
    import json

    log_dir = os.path.join(ckpt, "sources", "0")
    out = set()
    for f in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
        if f.startswith("."):
            continue
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.add((int(e["batchId"]), os.path.basename(e["path"])))
    return sorted(out)


def _last_commit(ckpt: str) -> int:
    """Highest batch id the query committed (-1 if none)."""
    d = os.path.join(ckpt, "commits")
    ids = [int(f) for f in os.listdir(d) if f.isdigit()] if os.path.isdir(d) else []
    return max(ids, default=-1)


def backlog_files(d: dict[str, str], name: str) -> int:
    """Files in the stage's input directory its source has not yet taken."""
    src = {"tx": "events", "st": "tx", "fs": "st", "al": "fs"}[name]
    present = {f for f in os.listdir(d[src]) if f.endswith(".parquet") and not f.startswith((".", "_"))}
    return len(present - {f for _, f in _source_log(d[f"ckpt_{name}"])})


def _progress_time(p) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


def _completed(progress) -> tuple[np.ndarray, np.ndarray]:
    """(batch end times, rows completed by then): the cumulative curve a
    query's progress reports trace, interpolated between batch ends so a
    window's count does not jump by a whole batch at its edges."""
    ends = [_progress_time(p) + p.durationMs.get("triggerExecution", 0) / 1000 for p in progress]
    rows = np.cumsum([p.numInputRows for p in progress])
    return np.asarray([0.0] + ends), np.concatenate([[0], rows])


def _table(o: DuckOracle, name: str, rows, like: str) -> None:
    """Table ``name`` holding the pandas ``rows`` (empty with the columns of
    ``like`` when nothing was committed)."""
    if len(rows):
        o.con.register(f"{name}_frame", rows)
        o.materialize(name, f"SELECT * FROM {name}_frame")
    else:
        o.materialize(name, f"SELECT * FROM {like} WHERE false")


def check(o: DuckOracle, fs_rows, al_rows, consumed: list[str], fs_dir: str) -> list[str]:
    """Checks of a stream stopped mid-flight against its batch twin ``o``:

    * the committed fs rows equal, per (server, service, lag), the twin's
      rows up to the last timestamp emitted for that key (exact values, no
      gap, no duplicate);
    * the fs files the alert stage consumed in committed batches hold twin
      rows, and the committed alerts equal the twin of ``alert_pipeline``
      over exactly those rows."""
    from apmbackend_spark.operators.alerts import alert_pipeline_oracle_sql

    problems = []
    _table(o, "fs_got", fs_rows, like="fs")
    o.materialize(
        "fs_prefix",
        """SELECT t.* FROM fs t JOIN (
               SELECT server, service, lag, MAX(timestamp) AS f FROM fs_got GROUP BY ALL
           ) k USING (server, service, lag)
           WHERE t.timestamp <= k.f""",
    )
    problems += o.diff("fs_prefix", "fs_got")
    if consumed:
        files = ", ".join(f"'{os.path.join(fs_dir, f)}'" for f in consumed)
        o.materialize("fs_consumed", f"SELECT * FROM read_parquet([{files}])")
    else:
        o.materialize("fs_consumed", "SELECT * FROM fs WHERE false")
    problems += o.diff("fs_consumed", "fs", subset=True)
    o.materialize(
        "al_expected",
        "WITH RECURSIVE fs_in AS (SELECT * FROM fs_consumed)"
        + alert_pipeline_oracle_sql(alert_config(), fs_cte="fs_in"),
    )
    _table(o, "al_got", al_rows, like="al_expected")
    problems += o.diff("al_expected", "al_got")
    return problems


def run(spark, inp: dict, seconds: float, work, log) -> dict:
    """Warm up for WARMUP_S, measure for ``seconds``, stop every query and
    judge what each stage committed."""
    if WARMUP_S + seconds < LATENCY_LIMIT_S + DUE_S:
        raise ValueError(f"live needs --seconds >= {LATENCY_LIMIT_S + DUE_S - WARMUP_S:g}")
    d = {k: work.sub(f"live/{k}") for k in ("events", "staging", "tx", "st", "fs", "al")}
    d.update({f"ckpt_{k}": work.sub(f"live/ckpt_{k}") for k in ("tx", "st", "fs", "al")})
    for k in ("events", "staging", "fs"):
        os.makedirs(d[k], exist_ok=True)
    gen_thread = Generator(inp["seed"], d["events"], d["staging"])
    fs_batches: dict[int, tuple[float, object]] = {}  # id -> (emission time, rows)
    al_batches: dict[int, object] = {}

    def on_fs_batch(batch, batch_id):
        batch.persist()
        batch.write.mode("append").parquet(d["fs"])
        stamp = time.time()
        fs_batches[batch_id] = (stamp, batch.toPandas())
        batch.unpersist()

    def on_al_batch(batch, batch_id):
        al_batches[batch_id] = batch.toPandas()

    # the source derives its schema from the first file; the schedule of
    # the rest is anchored at its creation
    gen_thread.write(0)
    gen_thread.start_at = gen_thread.created[0]
    gen_thread.late.append(0.0)
    queries = {}
    try:
        gen_thread.start()
        queries = start_topology(spark, d, on_fs_batch, on_al_batch)
        t_meas0 = gen_thread.start_at + WARMUP_S
        t_meas1 = t_meas0 + seconds
        while time.time() < t_meas1:
            for name, q in queries.items():
                if q.exception() is not None:
                    raise RuntimeError(f"query {name} failed: {q.exception()}")
            time.sleep(0.1)
        gen_thread.stop()
        t_stop = time.time()
        backlog = {name: backlog_files(d, name) for name in queries}
        # downstream first, so no stage emits much past the stop
        for name in ("al", "fs", "st", "tx"):
            queries[name].stop()
        if gen_thread.error is not None:
            raise gen_thread.error
    finally:
        gen_thread.stop()
        for q in queries.values():
            if q.isActive:
                q.stop()
    progress = {name: q.recentProgress for name, q in queries.items()}
    for name, rp in progress.items():
        ends = [round(e - gen_thread.start_at, 1) for e in _completed(rp)[0][1:]]
        log(f"{name}: {len(rp)} batches ending at s {ends}")
    log(f"generator wrote {len(gen_thread.created)} files, max lateness {max(gen_thread.late):.3f}s")
    t = time.perf_counter()
    res = judge(d, gen_thread, fs_batches, al_batches, (t_meas0, t_meas1), t_stop)
    log(
        f"check in {time.perf_counter() - t:.1f}s: {res['fs_rows']} fs rows and {res['al_rows']} alerts "
        f"committed, {res['pending']} fs rows pending at stop, {res['late']} late, {res['overdue']} overdue, "
        f"problems {res['problems']}"
    )
    done = _completed(progress["tx"])
    res.update(
        records_per_s=(np.interp(t_meas1, *done) - np.interp(t_meas0, *done)) / seconds,
        late_max_s=max(gen_thread.late),
        backlog=backlog,
        progress=progress,
        window=(t_meas0, t_meas1),
    )
    return res


def judge(d: dict[str, str], gen_thread: Generator, fs_batches: dict, al_batches: dict, window, t_stop: float) -> dict:
    """Result latencies and the verdict of a stopped run.

    Every fs row emitted inside ``window`` gives a latency sample, except
    the rows of the first fs batch that emitted any: that batch compiles
    the stage's plan and flushes the backlog of the warm-up. The
    committed fs rows and alerts are checked against the batch twin over
    the files written (``check``); each wrong or missing row fails. The
    latency verdict is taken at ``t_stop``: a row emitted by then later than
    LATENCY_LIMIT_S fails, and so does every twin row not emitted by then
    whose last event's file was written more than LATENCY_LIMIT_S before
    it. Rows the stream emitted while it was being stopped count as not
    emitted. A window without a latency sample is one more failure: it has
    no latency to report."""
    import pandas as pd

    t0, t1 = window
    created = np.asarray(gen_thread.created)
    first = min((b for b, (_, rows) in fs_batches.items() if len(rows)), default=None)
    latencies, late = [], 0
    for b, (stamp, rows) in fs_batches.items():
        for (server, service), grp in rows.groupby(["server", "service"]):
            files = gen_thread.last_event_files(server, service, grp["timestamp"].to_numpy())
            lat = stamp - created[files]
            if stamp <= t_stop:
                late += int(np.sum(lat > LATENCY_LIMIT_S))
            if t0 <= stamp < t1 and b != first:
                latencies.extend(lat.tolist())

    o = batch_twin(d["events"])
    fs_commit, al_commit = _last_commit(d["ckpt_fs"]), _last_commit(d["ckpt_al"])
    fs_rows = pd.concat(
        [pd.DataFrame()] + [r for b, (_, r) in fs_batches.items() if b <= fs_commit],
        ignore_index=True,
    )
    al_rows = pd.concat(
        [pd.DataFrame()] + [r for b, r in al_batches.items() if b <= al_commit],
        ignore_index=True,
    )
    consumed = [f for b, f in _source_log(d["ckpt_al"]) if b <= al_commit]
    problems = check(o, fs_rows, al_rows, consumed, d["fs"])
    by_stop = [r for stamp, r in fs_batches.values() if stamp <= t_stop and len(r)]
    if by_stop:
        o.con.register("fs_by_stop", pd.concat(by_stop, ignore_index=True))
    else:
        o.materialize("fs_by_stop", "SELECT * FROM fs WHERE false")
    unemitted = o.con.sql(
        """SELECT server, service, timestamp FROM fs t WHERE NOT EXISTS (
               SELECT 1 FROM fs_by_stop g WHERE g.server = t.server AND g.service = t.service
               AND g.lag = t.lag AND g.timestamp = t.timestamp)"""
    ).df()
    ages = []  # at the stop, a lower bound on each pending row's latency
    for (server, service), grp in unemitted.groupby(["server", "service"]):
        files = gen_thread.last_event_files(server, service, grp["timestamp"].to_numpy())
        ages.extend((t_stop - created[files]).tolist())
    overdue = sum(1 for x in ages if x > LATENCY_LIMIT_S)
    stalled = 0 if latencies else 1
    emitted = sum(len(rows) for _, rows in fs_batches.values())
    failed = o.bad_rows + late + overdue + stalled
    return {
        "latencies": latencies,
        "attempted": max(emitted + len(al_rows) + overdue + stalled, failed),
        "failed": failed,
        "problems": problems + (["no latency sample in the measured window"] if stalled else []),
        "fs_rows": len(fs_rows),
        "al_rows": len(al_rows),
        "pending": len(unemitted),
        "late": late,
        "overdue": overdue,
        # with no sample, the oldest pending row's age at the stop: a lower
        # bound on the latency the run failed to deliver
        "latency_floor_s": max(ages, default=t_stop - created[0]),
    }


def traced(spark, inp: dict, seconds: float, work, log) -> dict:
    """The same run with the UI on; per-stage figures come from each
    query's progress reports over the measured window, engine counters
    from every job the streaming queries ran."""
    from harness import ENGINE_METRICS, Tracer, layer_metrics

    tr = Tracer(spark)
    first_job = max((j["jobId"] for j in tr.jobs()), default=-1)
    with tr.span("live") as root:
        res = run(spark, inp, seconds, work, log)
    jobs = [j for j in tr.jobs() if j["jobId"] > first_job]
    root.rec["spark"] = engine_metrics(tr.rest_base(), jobs)
    t0, t1 = res["window"]
    m = {"loadgen.late_max_s": (res["late_max_s"], "s")}
    for name, rp in res["progress"].items():
        win = [p for p in rp if t0 <= _progress_time(p) < t1 and p.numInputRows > 0]
        last = rp[-1] if rp else None
        ms = [p.durationMs.get("triggerExecution", 0) / 1000 for p in win]
        commit = [
            (p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
             + sum(o.commitTimeMs for o in p.stateOperators)) / 1000
            for p in win
        ]
        rows_in = sum(p.numInputRows for p in win)
        m.update({
            f"stream.{name}.batch_s_p50": (statistics.median(ms) if ms else 0.0, "s"),
            f"stream.{name}.rows_in": (rows_in, "count"),
            f"stream.{name}.rows_per_s": (rows_in / seconds, "1/s"),
            f"stream.{name}.commit_s": (statistics.median(commit) if commit else 0.0, "s"),
            f"stream.{name}.state_rows": (sum(o.numRowsTotal for o in last.stateOperators) if last else 0, "count"),
            f"stream.{name}.state_bytes": (sum(o.memoryUsedBytes for o in last.stateOperators) if last else 0, "bytes"),
            f"stream.{name}.backlog_files": (res["backlog"][name], "count"),
        })
    for metric, unit in ENGINE_METRICS:
        m[f"stream.spark.{metric}"] = (root.rec["spark"][metric], unit)
    return {"tracer": tr, "layers": layer_metrics(tr, m), "attempted": res["attempted"], "failed": res["failed"]}
