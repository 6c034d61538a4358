"""The benchmark's own tests: deterministic generators, metric names, the
output checks rejecting corrupted output, and span nesting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import backfill  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import live  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def test_events_deterministic_per_seed():
    a = gen.events_table(7, 3000, 1.0, 8)
    b = gen.events_table(7, 3000, 1.0, 8)
    c = gen.events_table(8, 3000, 1.0, 8)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.schema == gen.EVENTS_SCHEMA


def test_live_files_deterministic_per_seed():
    a, _ = live.file_table(3, 5)
    b, _ = live.file_table(3, 5)
    c, _ = live.file_table(4, 5)
    assert a.equals(b) and not a.equals(c)
    ts = a.column("ts").cast("int64").to_numpy() // 1000
    lo = gen.BASE_MS + 5 * live.FILE_EVENT_MS
    assert ts.min() >= lo and ts.max() < lo + live.FILE_EVENT_MS


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += list(harness.layer_metric_units())
    res = {"latencies": [1.0, 2.0], "records_per_s": 5.0, "attempted": 2, "failed": 0, "times": [1.0], "n_records": 9}
    names += list(run.end_to_end("live", res, 1.0, 100.0)) + list(run.end_to_end("backfill", res, 1.0, 100.0))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    # the traced run reports exactly the declared per-layer metrics
    assert [m["name"] for m in spec["per_layer"]] == list(harness.layer_metric_units())
    assert sorted(m["name"] for m in spec["end_to_end"]) == sorted(run.end_to_end("live", res, 1.0, 1.0))


@pytest.fixture(scope="module")
def small_backfill(tmp_path_factory):
    """A small backfill input with its oracle, and the oracle's own fs/al
    rows written as if the job had produced them."""
    d = str(tmp_path_factory.mktemp("bf"))
    gen.write_events(gen.events_table(5, 1500, 1.0, 4), d)
    o = backfill.build_oracle(d)
    out = {}
    for name in ("fs", "al"):
        out[name] = os.path.join(d, name)
        os.makedirs(out[name])
        o.con.execute(f"COPY {name} TO '{out[name]}/part-0.parquet' (FORMAT parquet)")
    out["fanin"] = os.path.join(d, "fanin")
    os.makedirs(out["fanin"])
    o.con.execute(
        f"""COPY (SELECT * FROM (VALUES {', '.join(f"('{k}', {v})" for k, v in o.counts.items())}) t(rectype, n),
                  range(1000000) r WHERE r.range < t.n)
            TO '{out['fanin']}/part-0.parquet' (FORMAT parquet)"""
    )
    return o, out


def test_backfill_check_accepts_expected_output(small_backfill):
    o, out = small_backfill
    assert backfill.check(o, out) == []


def test_backfill_check_rejects_corrupted_output(small_backfill, tmp_path):
    o, out = small_backfill
    t = pq.read_table(os.path.join(out["fs"], "part-0.parquet")).to_pandas()
    i = int(np.flatnonzero(t["averageavg"].notna())[0])
    t.loc[i, "averageavg"] += 1.0
    bad = dict(out, fs=str(tmp_path))
    t.to_parquet(os.path.join(bad["fs"], "part-0.parquet"))
    problems = backfill.check(o, bad)
    assert problems and "fs" in problems[0]


def test_live_check_rejects_corrupted_output(tmp_path):
    events, fs_dir = tmp_path / "events", tmp_path / "fs"
    events.mkdir()
    fs_dir.mkdir()
    for i in range(40):
        pq.write_table(live.file_table(1, i)[0], str(events / f"ev-{i:05d}.parquet"))
    o = live.batch_twin(str(events))
    fs_rows = o.con.sql("SELECT * FROM fs").df()
    al_rows = o.con.sql("SELECT * FROM al").df()
    fs_rows.to_parquet(fs_dir / "part-0.parquet")

    def problems(fs, al):
        return live.check(live.batch_twin(str(events)), fs, al, ["part-0.parquet"], str(fs_dir))

    assert len(al_rows) > 0
    assert problems(fs_rows, al_rows) == []
    bad = fs_rows.copy()
    bad.loc[len(bad) // 2, "per95avg"] = -1.0
    assert problems(bad, al_rows)
    assert problems(fs_rows.drop(index=len(fs_rows) // 3), al_rows)
    assert problems(fs_rows, al_rows.iloc[1:])


def _written_stream(tmp_path, n_files=40):
    """The work directories of a live run whose generator wrote
    ``n_files`` files one second apart (creation times 0..n-1), before any
    query committed anything."""
    d = {k: str(tmp_path / k) for k in ("events", "staging", "fs", "ckpt_fs", "ckpt_al")}
    for k in ("events", "staging", "fs"):
        os.makedirs(d[k])
    g = live.Generator(1, d["events"], d["staging"])
    for i in range(n_files):
        g.write(i)
    g.created = [float(i) for i in range(n_files)]
    return d, g


def _commit(ckpt, batch_id):
    os.makedirs(os.path.join(ckpt, "commits"), exist_ok=True)
    open(os.path.join(ckpt, "commits", str(batch_id)), "w").close()


def test_live_judge_fails_a_stalled_stream(tmp_path):
    d, g = _written_stream(tmp_path)
    t_stop = len(g.created) + 5.0
    res = live.judge(d, g, {}, {}, (t_stop - 20.0, t_stop), t_stop)
    assert res["latencies"] == [] and res["overdue"] > 0
    assert res["failed"] >= res["overdue"] + 1
    assert res["attempted"] >= res["failed"]


def test_live_judge_passes_a_timely_stream_and_fails_a_late_one(tmp_path):
    d, g = _written_stream(tmp_path)
    twin = live.batch_twin(d["events"])
    fs = twin.con.sql("SELECT * FROM fs").df()
    # emit each fs row `delay` seconds after the file holding its window's
    # last event, one batch per such file
    last = np.concatenate([
        g.last_event_files(server, service, grp["timestamp"].to_numpy())
        for (server, service), grp in fs.groupby(["server", "service"], sort=False)
    ])
    fs = pd.concat([grp for _, grp in fs.groupby(["server", "service"], sort=False)], ignore_index=True)

    def verdict(delay, t_stop=None):
        batches = {
            i: (g.created[f] + delay, fs[last == f].reset_index(drop=True))
            for i, f in enumerate(sorted(set(last.tolist())))
        }
        ckpt = str(tmp_path / f"ckpt_fs_{delay}_{t_stop}")
        _commit(ckpt, len(batches) - 1)
        t_stop = len(g.created) + delay if t_stop is None else t_stop
        return live.judge(dict(d, ckpt_fs=ckpt), g, batches, {}, (0.0, t_stop + 1), t_stop)

    # the first batch with rows is the stage's cold start and gives no sample
    measured = len(fs) - int((last == last.min()).sum())
    ok = verdict(live.LATENCY_LIMIT_S / 2)
    assert ok["failed"] == 0 and ok["problems"] == [] and len(ok["latencies"]) == measured > 0
    late = verdict(live.LATENCY_LIMIT_S + 1)
    assert late["late"] == len(fs) and late["failed"] == len(fs)
    # rows emitted after the stop are judged by their age at the stop
    delay = live.LATENCY_LIMIT_S + 1
    stop = max(g.created) + 0.5
    after = verdict(delay, t_stop=stop)
    created = np.asarray(g.created)[last]
    assert after["pending"] == int((created + delay > stop).sum()) > 0
    assert after["late"] == int((created + delay <= stop).sum())
    assert after["overdue"] == int(((created + delay > stop) & (stop - created > live.LATENCY_LIMIT_S)).sum())


def test_spans_nest_and_self_times_are_non_negative():
    tr = harness.Tracer(None)
    with tr.span("job"):
        with tr.span("a"):
            time.sleep(0.01)
            with tr.span("a1"):
                time.sleep(0.01)
        with tr.span("b"):
            time.sleep(0.01)
    parents = {s["name"]: s["parent"] for s in tr.spans}
    ids = {s["name"]: s["id"] for s in tr.spans}
    assert parents == {"job": None, "a": ids["job"], "a1": ids["a"], "b": ids["job"]}
    assert tr.check_nesting() == []
    selfs = tr.self_times()
    assert all(v >= 0 for v in selfs.values())
    total = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert abs(sum(selfs.values()) - total) < 1e-9


def test_nesting_check_flags_a_span_outside_its_parent():
    tr = harness.Tracer(None)
    with tr.span("job"):
        with tr.span("child"):
            pass
    tr.spans[1]["end"] = tr.spans[0]["end"] + 1.0
    assert tr.check_nesting()


def test_stop_processes_reaps_children_and_orphans():
    """A child and the grandchild it leaves behind are both gone, and
    reaped, when ``stop_processes`` returns."""
    import subprocess

    script = f"""
import os, subprocess, sys, time
sys.path.insert(0, {BENCH!r})
import harness
harness.adopt_orphans()
subprocess.Popen(["sh", "-c", "sleep 60 & exec sleep 60"])
time.sleep(0.5)
before = harness.descendants()
harness.stop_processes(grace_s=2.0)
print(len(before), harness.descendants())
"""
    t0 = time.perf_counter()
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["2", "[]"]
    assert time.perf_counter() - t0 < 30


def test_rss_sampler_skips_a_child_that_has_not_called_exec():
    """A child still running this process's executable is taken for one
    caught between vfork and exec, which shares this process's memory; a
    child that runs another program is counted."""
    import subprocess

    pid = os.fork()
    if pid == 0:
        time.sleep(5)
        os._exit(0)
    try:
        rss = harness.RssSampler()
        rss.sample()
        assert rss.samples == [0]
        with subprocess.Popen(["sleep", "5"]) as p:
            time.sleep(0.2)
            rss.sample()
            p.kill()
        assert rss.samples[1] > 0
    finally:
        os.kill(pid, 9)
        os.waitpid(pid, 0)
