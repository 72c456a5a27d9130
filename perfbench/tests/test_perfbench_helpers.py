"""Unit tests of the benchmark's own helpers: event-log parsing, the /proc
sampler, per-layer arithmetic and the output digests.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import decimal
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, layers, procsample, workloads  # noqa: E402
from perfbench.spans import Span  # noqa: E402

SMALL_LOG = pathlib.Path(__file__).parent / "data" / "small_eventlog.jsonl"


# ------------------------------------------------------------- event log


@pytest.fixture(scope="module")
def small_jobs():
    with open(SMALL_LOG) as fh:
        return eventlog.parse_events(fh)


def test_recorded_log_jobs_carry_groups_and_tasks(small_jobs):
    # the recorded session: a 4-partition parse-like mapInPandas under group
    # parse.reports, a persisted 2-partition probe under frontier.wave, then
    # an untagged 3-partition group-by
    groups = {}
    for job in small_jobs.values():
        groups.setdefault(job.group, []).append(job)
    assert set(groups) == {"parse.reports", "frontier.wave", None}
    first = min(groups["parse.reports"], key=lambda j: j.job_id)
    assert len(first.tasks) == 4
    assert all(j.end_ms >= j.submit_ms > 0 for j in small_jobs.values())
    assert sum(len(j.tasks) for j in groups[None]) == 4  # 3 map tasks + 1 result


def test_recorded_log_python_nodes_are_classified(small_jobs):
    jobs = list(small_jobs.values())
    # the facts kernel outputs fin_type -> parse; 400 rows x 3 columns returned
    assert eventlog.python_sum(jobs, "parse", "recv_bytes") > 0
    assert eventlog.python_sum(jobs, "parse", "run_ms") > 0
    # the probe outputs maybe_seen -> seen, and only under frontier.wave
    seen_jobs = [j for j in jobs if "seen" in j.python]
    assert seen_jobs and {j.group for j in seen_jobs} == {"frontier.wave"}
    assert eventlog.python_sum(jobs, None, "sent_bytes") == (
        eventlog.python_sum(jobs, "parse", "sent_bytes")
        + eventlog.python_sum(jobs, "seen", "sent_bytes")
    )


def test_recorded_log_shuffle_bytes(small_jobs):
    untagged = [j for j in small_jobs.values() if j.group is None]
    assert sum(t.shuffle_write for j in untagged for t in j.tasks) > 0


def _ev(**kw):
    return json.dumps(kw)


def _plan(name, simple, metrics=(), children=()):
    return {
        "nodeName": name,
        "simpleString": simple,
        "metrics": [{"name": n, "accumulatorId": i} for n, i in metrics],
        "children": list(children),
    }


def test_python_metrics_resolve_when_plan_arrives_after_tasks():
    # under AQE the node that ran can first appear in a later plan update
    node = _plan(
        "MapInPandas",
        "MapInPandas gen_bc(url#1)#2, [url#3, maybe_seen#4], false",
        [("time to run Python workers", 7), ("data sent to Python workers", 8)],
    )
    lines = [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 100,
            "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0,
            "Task Info": {"Launch Time": 100, "Finish Time": 150,
                          "Accumulables": [{"ID": 7, "Update": "40"}, {"ID": 8, "Update": "1024"}]},
            "Task Metrics": {"Executor Run Time": 50}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 160}),
        _ev(Event="org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            executionId=0, sparkPlanInfo=_plan("AdaptiveSparkPlan", "", children=[node])),
    ]
    job = eventlog.parse_events(lines)[0]
    assert job.python["seen"] == {"run_ms": 40.0, "sent_bytes": 1024.0}
    assert job.tasks[0].run_ms == 50 and job.end_ms == 160


def test_classify_by_output_columns():
    assert eventlog.classify("MapInPandas gen(a#1)#2, [cik#3, fin_type#9, value#10], false") == "parse"
    assert eventlog.classify("MapInPandas gen(a#1)#2, [ticker#3, viewer_url#9], false") == "parse"
    assert eventlog.classify("MapInPandas gen_bc(u#1)#2, [url#3, maybe_seen#4], false") == "seen"
    assert eventlog.classify("MapInPandas gen(id#0L)#1, [url#2, warc_ts#3, html#4], false") == "input"
    assert eventlog.classify("MapInPandas gen(doc_id#0L)#1, [doc_id#2, sig#3], false") == "other"


def test_task_skew_and_coverage():
    t = lambda stage, dur: eventlog.Task(stage, 0, dur, dur, 0, 0, 0, 0)  # noqa: E731
    job = eventlog.Job(0, None, 0, 10, [1, 2], [t(1, 10), t(1, 10), t(1, 40), t(2, 5)])
    assert eventlog.task_skew([job], cores=2) == pytest.approx(4.0)  # stage 1: 40 / median 10
    # one task alone on two cores: median of (9, idle 0) is 4.5
    assert eventlog.task_skew([eventlog.Job(1, None, 0, 1, [3], [t(3, 9)])], cores=2) == 2.0
    assert eventlog.task_skew([], cores=2) == 1.0
    # union of [0,4],[2,6],[8,9] clipped to [1,10] -> [1,6] + [8,9] = 6
    assert eventlog.covered_ms([(0, 4), (2, 6), (8, 9)], 1, 10) == 6


# ------------------------------------------------------------ /proc sampler


def test_parse_stat_with_spaces_and_parens_in_name():
    line = "4276 (my (odd) proc) S 4272 4276 4272 0 -1 4194304 79 0 0 0 7 3 11 2 20 0 1 0 197016"
    st = procsample.parse_stat(line)
    assert (st.pid, st.ppid, st.cpu_ticks) == (4276, 4272, 7 + 3 + 11 + 2)


def test_parse_hwm():
    assert procsample.parse_hwm_kb("Name:\tx\nVmHWM:\t    1792 kB\nVmRSS:\t 1000 kB\n") == 1792
    assert procsample.parse_hwm_kb("Name:\tkthreadd\n") == 0


def test_spawn_helper_is_not_counted(tmp_path):
    _fake_proc(tmp_path, [(10, 1, 0, 1000), (11, 10, 0, 1000)])
    (tmp_path / "11" / "status").write_text("Name:\tjspawnhelper\nVmHWM:\t1000 kB\n")
    assert procsample.ProcTree(root=10, proc=str(tmp_path)).hwm_kb() == {10: 1000}


def _fake_proc(root: pathlib.Path, procs):
    for pid, ppid, ticks, hwm in procs:
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} (p{pid}) S {ppid} 0 0 0 -1 0 0 0 0 0 {ticks} 0 0 0 20\n")
        (d / "status").write_text(f"Name:\tp{pid}\nVmHWM:\t{hwm} kB\n")
        (d / "comm").write_text(f"p{pid}\n")


def test_proctree_on_fake_proc(tmp_path):
    # 10 -> 11 -> 12, 10 -> 13; 20 is unrelated
    _fake_proc(tmp_path, [(10, 1, 100, 1024), (11, 10, 50, 2048), (12, 11, 25, 512),
                          (13, 10, 5, 0), (20, 1, 999, 99999)])
    tree = procsample.ProcTree(root=10, proc=str(tmp_path))
    assert sorted(tree.pids()) == [10, 11, 12, 13]
    assert tree.cpu_seconds() == pytest.approx(180 / procsample.CLK_TCK)
    assert sum(tree.hwm_kb().values()) == 1024 + 2048 + 512
    sampler = procsample.PeakSampler(tree)
    sampler.sample()
    assert sampler.peak_mb == pytest.approx(3.5)
    assert sampler.peak_parts["p11"] == pytest.approx(2.0)


def test_proctree_sees_live_child_cpu_and_memory():
    tree = procsample.ProcTree()
    cpu0 = tree.cpu_seconds()
    code = "import time\nx = b\"x\" * (64 << 20)\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(5)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 10
        while tree.cpu_seconds() - cpu0 < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in tree.pids()
        assert tree.hwm_kb()[child.pid] >= 60 << 10
    finally:
        child.kill()
        child.wait(timeout=10)
    # reaped child's CPU stays in this process's cutime
    assert tree.cpu_seconds() - cpu0 >= 0.25
    assert child.pid not in tree.pids()


# ----------------------------------------------------------------- digests


def test_rows_digest_ignores_order():
    a = [("u1", "fetched", 0), ("u2", "missing", 1)]
    assert workloads.rows_digest(a) == workloads.rows_digest(list(reversed(a)))
    assert workloads.rows_digest(a) != workloads.rows_digest([("u1", "fetched", 1), a[1]])
    assert workloads.rows_digest([("u", None)]) != workloads.rows_digest([("u", "None")])


def test_frame_digest_canonicalises_engines():
    spark_rows = [(1, decimal.Decimal("587.380000"), [1, 2]), (2, 0.1 + 0.2, None)]
    duck_rows = [(0.30000000000000004, 2, None), (587.38, 1, (1, 2))]
    assert workloads.frame_digest(["id", "x", "l"], spark_rows) == workloads.frame_digest(
        ["x", "id", "l"], duck_rows
    )
    assert workloads.frame_digest(["a"], [(1,)]) != workloads.frame_digest(["a"], [(2,)])


def test_generated_dedup_inputs_repeat_per_seed():
    import numpy as np

    d1 = workloads.make_documents(np.random.default_rng(7), 50)
    d2 = workloads.make_documents(np.random.default_rng(7), 50)
    d3 = workloads.make_documents(np.random.default_rng(8), 50)
    assert d1.equals(d2) and not d1.equals(d3)
    e1 = workloads.make_embeddings(np.random.default_rng(7), 20)
    assert e1["embedding"].iloc[0].dtype == np.float32
    assert np.allclose([np.linalg.norm(v) for v in e1["embedding"]], 1.0, atol=1e-5)


# ------------------------------------------------------------ layer maths


def test_layers_compute_wave_walls_and_driver_time():
    # one measured iteration [0, 1000] ms: crawl span 0..1000, two waves
    # (100..400, 400..900), final commit 900..980; one job per wave
    spans = [
        Span("crawl", 0, 1000, None),
        Span("frontier.wave", 100, 400, 0),
        Span("icelite.commit", 300, 400, 1),
        Span("frontier.wave", 400, 900, 0),
        Span("model.final_commit", 900, 980, 0),
    ]
    t = lambda dur: eventlog.Task(0, 0, dur, dur, 2_000_000, 1, 1024, 0)  # noqa: E731
    jobs = {
        0: eventlog.Job(0, "frontier.wave", 150, 350, [0], [t(200)]),
        1: eventlog.Job(1, "icelite.commit", 500, 800, [1], [t(300), t(100)]),
    }
    out = layers.compute(spans, jobs, [(0, 1000)], {"frontier.fetched": 5}, cores=2)
    assert out["frontier.waves"] == 2
    assert out["frontier.wave_s"] == pytest.approx(0.8)
    # wave 1: 300 - 200 covered; wave 2: 500 - 300 covered
    assert out["frontier.driver_s"] == pytest.approx(0.3)
    assert out["frontier.jobs"] == 2 and out["frontier.tasks"] == 3
    assert out["frontier.wall_coverage"] == pytest.approx((0.8 + 0.08) / 1.0)
    assert out["icelite.commits"] == 2 and out["model.final_commit_s"] == pytest.approx(0.08)
    assert out["exec.run_s"] == pytest.approx(0.6)
    assert out["exec.idle_share"] == pytest.approx(1 - 0.6 / 2.0)
    assert out["frontier.fetched"] == 5


def test_per_layer_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(x) for x in layers.PER_LAYER
    ]
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_tracing_overhead_compares_same_code_only(tmp_path):
    from perfbench import run

    def rec(seed, trace, ips, code="c1"):
        r = {"workload": "crawl", "seed": seed, "trace": trace, "code": code,
             "end_to_end": {"items_per_s": ips}}
        stem = f"crawl.seed{seed}" + (".trace" if trace else "")
        (tmp_path / f"{stem}.json").write_text(json.dumps(r))
        return r

    rec(1, 0, 30.0)
    rec(2, 0, 20.0)
    rec(3, 0, 99.0, code="old")
    rec(2, 1, 10.0)
    mine = rec(1, 1, 25.0)
    out = run.overhead(tmp_path, tmp_path / "crawl.seed1.trace.json", mine)
    assert out["same_seed"]["overhead_share"] == pytest.approx(30.0 / 25.0 - 1)
    assert out["medians"]["untraced_runs"] == 2 and out["medians"]["traced_runs"] == 2
    assert out["medians"]["overhead_share"] == pytest.approx(25.0 / 17.5 - 1)
    other = dict(mine, seed=3)
    assert run.overhead(tmp_path, tmp_path / "x.json", other)["same_seed"]["overhead_share"] is None


def test_run_refuses_without_engine(tmp_path):
    # a directory holding only the benchmark: no engine to import, no result
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
