"""Run-time scaffolding shared by the workloads: the Spark session and its
set-up measurement, isolation between timed jobs, the process-tree memory
sampler, and the span tracer of the traced run.

Everything a run writes (Spark local dirs, checkpoints, warehouse, scratch
output, temp files) lives under one work directory inside the checkout and
is removed when the run ends; generated inputs are cached next to it.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import shutil
import threading
import time
import urllib.request

STATE_DIR = ".perfbench"  # under the checkout root; listed in .gitignore


class WorkDir:
    """Per-run scratch directory, removed on close."""

    def __init__(self, root: str):
        self.path = os.path.join(root, STATE_DIR, f"work-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def cache_dir(root: str, key: str) -> str:
    return os.path.join(root, STATE_DIR, "cache", key)


def configure_env(root: str, work: WorkDir) -> None:
    """Environment the JVM and the Python workers inherit: the package on
    the workers' import path, every temp/spill location inside the work
    directory, and local[nproc]."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("local")
    os.environ["TMPDIR"] = work.sub("tmp")
    # no hsperfdata file in the system temp directory for any JVM started
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = work.sub("tmp")


def start_session(work: WorkDir, trace: bool):
    """``session.get_spark`` with the benchmark's placement confs. The UI
    (and with it the REST API the tracer reads) is on only when tracing."""
    from apmbackend_spark.session import get_spark

    tmp = work.sub("tmp")
    conf = {
        "spark.local.dir": work.sub("local"),
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.ui.enabled"] = "true"
        conf["spark.ui.port"] = "4050"
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def engine_warmup(spark) -> None:
    """The smallest jobs that touch the engine paths every workload uses: a
    codegen'd aggregation behind a shuffle, and a Python task (which starts
    the Python worker daemon and a worker)."""
    rows = spark.range(0, 1000, numPartitions=2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    total = spark.sparkContext.parallelize(range(100), 2).map(lambda x: x + 1).sum()
    if len(rows) != 7 or total != 5050:
        raise RuntimeError("engine warm-up produced a wrong result")


def set_up(work: WorkDir, trace: bool):
    """Start the session (which launches the JVM) and warm the engine once.
    Returns the live session and the time this took (the ``setup_s``
    metric)."""
    t0 = time.perf_counter()
    spark = start_session(work, trace)
    engine_warmup(spark)
    setup_s = time.perf_counter() - t0
    isolate(spark)
    return spark, setup_s


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose daemon or JVM ends
    first is re-parented here instead of to init, so ``stop_processes``
    still finds and reaps it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def parents() -> dict[int, int]:
    """pid -> parent pid of every process."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    return parent


def descendants(parent: dict[int, int] | None = None) -> list[int]:
    """Every live or zombie descendant of this process."""
    parent = parents() if parent is None else parent
    me, out = os.getpid(), []
    for pid in parent:
        p = parent.get(pid, 0)
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            out.append(pid)
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark session, end the JVM it runs in (the gateway JVM
    exits when its stdin closes) and every other process this run started,
    and reap them all. Returns only when no descendant is left; what does
    not end within ``grace_s`` of a SIGTERM is killed."""
    import signal
    import subprocess

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        _reap()
        pids = descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.1)


def isolate(spark) -> None:
    """Reset shared engine state between timed jobs: the SQL cache, then
    every still-persisted RDD (localCheckpoint pins are not in the SQL
    cache), unpersisted blocking so no removal is in flight when the next
    job starts."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for entry in list(jmap.values()):
        entry.unpersist(True)
    gc.collect()


def closed_loop(spark, wl, inp: dict, seconds: float, work, log) -> dict:
    """Batch workload ``wl``'s job run back to back, untraced; each job is
    isolated and checked outside its timed region.

    A batch job is a one-shot application: its users pay the plan's
    first-run compilation every time, so the first job after set-up is
    measured too. Jobs start while fewer than ``seconds`` have passed."""
    oracle = wl.oracle(inp)
    times, failed, i = [], 0, 0
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            out = wl.pipeline(spark, inp, work.sub(f"out{i % 2}"), Tracer(None))["out"]
        except Exception as e:  # a job that raised counts as failed
            out = None
            log(f"job {i} raised: {e!r}")
        times.append(time.perf_counter() - t0)
        isolate(spark)
        problems = ["raised"] if out is None else wl.check(oracle, out)
        if problems:
            failed += 1
            log(f"job {i} failed: {problems[:3]}")
        log(f"job {i} {times[-1]:.3f}s")
        i += 1
        if time.perf_counter() >= t_end:
            break
    return {"times": times, "attempted": i, "failed": failed, "n_records": inp["n_records"]}


def traced_job(spark, wl, inp: dict, work, log) -> dict:
    """One job of batch workload ``wl`` with each layer timed on
    materialized input, checked like an untraced job; the layer counts and
    the engine counters are read after the spans."""
    tr = Tracer(spark)
    res = wl.pipeline(spark, inp, work.sub("traced"), tr)
    root = tr.spans[0]
    log(f"traced job {root['end'] - root['start']:.2f}s")
    problems = wl.check(wl.oracle(inp), res["out"])
    if problems:
        log(f"traced outputs incorrect: {problems[:3]}")
    spark.sparkContext.setJobGroup("perfbench-counts", "counts")
    counts = wl.counts(spark, inp, res, tr)
    tr.collect_engine_metrics()
    return {"tracer": tr, "layers": layer_metrics(tr, counts), "attempted": 1, "failed": 1 if problems else 0}


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and the Python workers), sampled from /proc. This process is left out:
    besides the driver-side Python it holds the benchmark's own output
    checks. Each process counts its proportional set size, so pages the
    forked Python workers share are counted once rather than once per
    worker."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.samples: list[int] = []
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._halt.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    @staticmethod
    def _exe(pid: int) -> str | None:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return None

    def sample(self) -> None:
        """One sample of the tree's memory. The JVM and this process launch
        programs the vfork way: until the child calls exec it shares its
        parent's memory, and counting it would count the parent twice (the
        JVM spawns chmod, readlink and rm while streaming). Neither runs a
        child of its own executable otherwise, so such a child is skipped."""
        parent, me, total = parents(), os.getpid(), 0
        for pid in descendants(parent):
            exe, pp = self._exe(pid), parent[pid]
            if exe is not None and exe == self._exe(pp) and (pp == me or exe.endswith("/java")):
                continue
            total += self._pss(pid)
        self.samples.append(total)

    def _run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period_s)

    def quantile_mb(self, q: float) -> float:
        xs = sorted(self.samples)
        return xs[min(int(q * len(xs)), len(xs) - 1)] / (1 << 20)


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into the package. Each span runs in
    its own Spark job group, so the engine work it caused can be read back
    from the REST API afterwards. Spans stay in memory until ``dump``.

    The untraced run passes ``Tracer(None)``: without a session, spans
    touch neither job groups nor the REST API, and ``split`` leaves the
    package's internal calls as they are."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.outputs: dict = {}  # span name -> last DataFrame ``split`` materialized
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    def span(self, name: str, **counts):
        return _Span(self, name, counts)

    @contextlib.contextmanager
    def split(self, module, calls: dict[str, str]):
        """While open, every call of ``module.<attr>`` for ``attr`` in
        ``calls`` runs in a span named ``calls[attr]`` and its output is
        materialized, so a layer the package calls internally gets its own
        span. The last output of each span name is kept in ``outputs``.
        Does nothing when not tracing."""
        if not self.enabled:
            yield
            return
        saved = {attr: getattr(module, attr) for attr in calls}

        def wrap(fn, name):
            def call(*args, **kwargs):
                with self.span(name):
                    out = self.outputs[name] = fn(*args, **kwargs).localCheckpoint()
                return out

            return call

        for attr, name in calls.items():
            setattr(module, attr, wrap(saved[attr], name))
        try:
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        out = {}
        for s in self.spans:
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            covered = _union_length([(c["start"], c["end"]) for c in kids])
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def rest_base(self) -> str:
        sc = self.spark.sparkContext
        return f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def jobs(self) -> list[dict]:
        return _get_json(f"{self.rest_base()}/jobs")

    def collect_engine_metrics(self) -> None:
        """Attach per-span engine counters from the REST API (traced run)."""
        by_group: dict[str, list[dict]] = {}
        for j in self.jobs():
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        for s in self.spans:
            s["spark"] = engine_metrics(self.rest_base(), by_group.get(s["group"], []))

    def check_nesting(self) -> list[str]:
        """Problems with the span tree: every span ends after it starts,
        lies inside its parent, and keeps a non-negative self time."""
        problems = []
        by_id = {s["id"]: s for s in self.spans}
        for sid, self_s in self.self_times().items():
            s = by_id[sid]
            if s["end"] < s["start"]:
                problems.append(f"span {s['name']} ends before it starts")
            p = by_id.get(s["parent"])
            if s["parent"] is not None and (p is None or s["start"] < p["start"] or s["end"] > p["end"]):
                problems.append(f"span {s['name']} is not inside its parent")
            if self_s < 0:
                problems.append(f"span {s['name']} has negative self time {self_s}")
        return problems

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, counts: dict):
        self.t = tracer
        self.rec = {"name": name, "counts": dict(counts)}

    def count(self, **kv) -> None:
        self.rec["counts"].update(kv)

    def __enter__(self):
        t = self.t
        sid = len(t.spans)
        self.rec.update(id=sid, parent=t._stack[-1] if t._stack else None)
        self.rec["group"] = f"perfbench-span-{sid}"
        t.spans.append(self.rec)
        t._stack.append(sid)
        if t.enabled:
            t.spark.sparkContext.setJobGroup(self.rec["group"], self.rec["name"])
        self.rec["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        if t.enabled:
            parent = t.spans[t._stack[-1]] if t._stack else None
            if parent is not None:
                t.spark.sparkContext.setJobGroup(parent["group"], parent["name"])
            else:
                t.spark.sparkContext.setJobGroup("", "")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def engine_metrics(base: str, jobs: list[dict]) -> dict:
    """Jobs, shuffle bytes written, bytes spilled, GC seconds and scheduler
    delay seconds over ``jobs`` and their stages."""
    out = {"jobs": len(jobs), "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "scheduler_delay_s": 0.0}
    for sid in sorted({s for j in jobs for s in j.get("stageIds", [])}):
        for st in _get_json(f"{base}/stages/{sid}?details=true&taskStatus=SUCCESS"):
            out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            for task in (st.get("tasks") or {}).values():
                m = task.get("taskMetrics") or {}
                out["gc_s"] += m.get("jvmGcTime", 0) / 1000.0
                out["scheduler_delay_s"] += task.get("schedulerDelay", 0) / 1000.0
    return out


# Every per-layer metric the traced run reports, with its unit. A layer the
# workload does not call reports 0.
LAYER_SPANS = (
    "tx", "window_stats", "zerofill", "zscore", "alerts", "ordering",
    "logparse", "logchunk", "textstats", "dedup", "packing", "prepare", "similarity",
)
# engine counters per span, except for the layers that are a plain union
# (ordering) or a narrow cumulative sum (packing), to stay within 128 names
ENGINE_SPANS = tuple(x for x in LAYER_SPANS if x not in ("ordering", "packing"))
ENGINE_METRICS = (
    ("jobs", "count"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
    ("scheduler_delay_s", "s"),
)
STREAM_STAGES = ("tx", "st", "fs", "al")
STREAM_METRICS = (
    ("batch_s_p50", "s"),
    ("rows_in", "count"),
    ("rows_per_s", "1/s"),
    ("commit_s", "s"),
    ("state_rows", "count"),
    ("state_bytes", "bytes"),
    ("backlog_files", "count"),
)
COUNT_METRICS = (
    ("tx.rows_out", "count"),
    ("window_stats.rows_in", "count"),
    ("window_stats.rows_out", "count"),
    ("zerofill.rows_out", "count"),
    ("zerofill.fill_ratio", "ratio"),
    ("zscore.rows_out", "count"),
    ("zscore.carry_ratio", "ratio"),
    ("alerts.candidates", "count"),
    ("alerts.fired", "count"),
    ("ordering.rows_out", "count"),
    ("logparse.lines_in", "count"),
    ("logparse.tx_out", "count"),
    ("logparse.enrich_busy_s", "s"),
    ("logchunk.chunks", "count"),
    ("logchunk.spill_ratio", "ratio"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.dup_pairs", "count"),
    ("similarity.pairs_scored", "count"),
    ("similarity.pruned", "count"),
    ("loadgen.late_max_s", "s"),
)


def layer_metric_units() -> dict[str, str]:
    """name -> unit of every per-layer metric, in report order."""
    units = {f"{layer}.busy_s": "s" for layer in LAYER_SPANS}
    units.update(COUNT_METRICS)
    for layer in ENGINE_SPANS:
        units.update({f"{layer}.spark.{m}": u for m, u in ENGINE_METRICS})
    for stage in STREAM_STAGES:
        units.update({f"stream.{stage}.{m}": u for m, u in STREAM_METRICS})
    units.update({f"stream.spark.{m}": u for m, u in ENGINE_METRICS})
    return units


def layer_metrics(tracer: Tracer, measured: dict[str, tuple[float, str]]) -> dict[str, tuple[float, str]]:
    """All per-layer metrics: span self times and engine counters by layer
    name, then ``measured`` on top; anything not measured is 0."""
    units = layer_metric_units()
    out = {name: (0.0, unit) for name, unit in units.items()}
    selfs = tracer.self_times()
    for s in tracer.spans:
        if s["name"] in LAYER_SPANS:
            out[f"{s['name']}.busy_s"] = (out[f"{s['name']}.busy_s"][0] + selfs[s["id"]], "s")
        if s["name"] in ENGINE_SPANS:
            for m, u in ENGINE_METRICS:
                key = f"{s['name']}.spark.{m}"
                out[key] = (out[key][0] + s.get("spark", {}).get(m, 0), u)
    for name, (value, unit) in measured.items():
        if name not in units or units[name] != unit:
            raise KeyError(f"undeclared layer metric {name} [{unit}]")
        out[name] = (value, unit)
    return out
