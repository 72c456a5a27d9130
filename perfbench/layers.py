"""Per-layer metrics of a traced run, from its spans and its event log.

Every figure is per measured (warm) iteration: totals over the measured
iterations divided by their number. Jobs and spans belong to an iteration
when they start inside its wall-clock window. Layers a workload does not
exercise report 0.
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from perfbench.eventlog import Job, covered_ms, python_sum, task_skew
from perfbench.spans import Span

MIB = 1024.0 * 1024.0

# (name, unit, better) — the per_layer list of BENCHMARK.json, in order
PER_LAYER = [
    ("frontier.waves", "count", "lower"),
    ("frontier.wave_s", "s", "lower"),
    ("frontier.driver_s", "s", "lower"),
    ("frontier.jobs", "count", "lower"),
    ("frontier.tasks", "count", "lower"),
    ("frontier.shuffle_mb", "MB", "lower"),
    ("frontier.task_skew", "ratio", "lower"),
    ("frontier.fetched", "count", "higher"),
    ("frontier.missing", "count", "lower"),
    ("frontier.robots_blocked", "count", "lower"),
    ("frontier.discovered", "count", "higher"),
    ("frontier.fetch_hit_ratio", "ratio", "higher"),
    ("frontier.wall_coverage", "ratio", "higher"),
    ("seen.candidates", "count", "lower"),
    ("seen.passed_ratio", "ratio", "higher"),
    ("seen.add_s", "s", "lower"),
    ("seen.python_s", "s", "lower"),
    ("parse.python_s", "s", "lower"),
    ("parse.boot_s", "s", "lower"),
    ("parse.sent_mb", "MB", "lower"),
    ("parse.recv_mb", "MB", "lower"),
    ("parse.pages", "count", "higher"),
    ("parse.facts", "count", "higher"),
    ("parse.failures", "count", "lower"),
    ("icelite.commits", "count", "lower"),
    ("icelite.commit_s", "s", "lower"),
    ("icelite.read_s", "s", "lower"),
    ("icelite.files", "count", "lower"),
    ("icelite.write_mb", "MB", "lower"),
    ("model.final_commit_s", "s", "lower"),
    ("model.filings", "count", "higher"),
    ("operators.winnow_fingerprints_s", "s", "lower"),
    ("operators.cdc_dedup_s", "s", "lower"),
    ("operators.minhash_near_dups_s", "s", "lower"),
    ("operators.simhash_near_dups_s", "s", "lower"),
    ("operators.ngram_jaccard_lsh_s", "s", "lower"),
    ("operators.cosine_near_dups_s", "s", "lower"),
    ("operators.tasks", "count", "lower"),
    ("operators.task_skew", "ratio", "lower"),
    ("operators.python_s", "s", "lower"),
    ("operators.shuffle_mb", "MB", "lower"),
    ("operators.spill_mb", "MB", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.idle_share", "ratio", "lower"),
    ("mem.peak_rss_mb", "MB", "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def _within(t: float, windows: Sequence[tuple]) -> bool:
    return any(lo <= t <= hi for lo, hi in windows)


def _in_spans(jobs: List[Job], spans: List[Span]) -> List[Job]:
    return [j for j in jobs if any(s.start_ms <= j.submit_ms <= s.end_ms for s in spans)]


def compute(
    spans: List[Span],
    jobs: Dict[int, Job],
    windows: Sequence[tuple],
    counts: Dict[str, float],
    cores: int,
) -> Dict[str, float]:
    """``windows``: (start_ms, end_ms) of each measured iteration.
    ``counts``: workload-reported figures (crawl metrics, pages, facts,
    files...) already per iteration."""
    n = max(len(windows), 1)
    mjobs = [j for j in jobs.values() if _within(j.submit_ms, windows)]
    mspans = [s for s in spans if _within(s.start_ms, windows)]
    named = lambda name: [s for s in mspans if s.name == name]  # noqa: E731
    secs = lambda ss: sum(s.seconds for s in ss) / n  # noqa: E731
    tasks = lambda js: [t for j in js for t in j.tasks]  # noqa: E731
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out.update({k: float(v) for k, v in counts.items() if k in out})

    waves = named("frontier.wave")
    if waves:
        wave_jobs = _in_spans(mjobs, waves)
        idle = sum(
            w.end_ms - w.start_ms
            - covered_ms(((j.submit_ms, j.end_ms) for j in wave_jobs), w.start_ms, w.end_ms)
            for w in waves
        )
        out["frontier.waves"] = len(waves) / n
        out["frontier.wave_s"] = secs(waves)
        out["frontier.driver_s"] = idle / 1000.0 / n
        out["frontier.jobs"] = len(wave_jobs) / n
        out["frontier.tasks"] = len(tasks(wave_jobs)) / n
        out["frontier.shuffle_mb"] = sum(t.shuffle_write for t in tasks(wave_jobs)) / MIB / n
        out["frontier.task_skew"] = task_skew(wave_jobs, cores)
        crawl_s = secs(named("crawl"))
        if crawl_s:
            out["frontier.wall_coverage"] = (
                out["frontier.wave_s"] + secs(named("model.final_commit"))
            ) / crawl_s

    adds = [
        s for s in named("seen.add")
        if s.parent is None or spans[s.parent].name != "seen.add"
    ]
    out["seen.add_s"] = secs(adds)
    out["seen.python_s"] = python_sum(mjobs, "seen", "run_ms") / 1000.0 / n

    out["parse.python_s"] = python_sum(mjobs, "parse", "run_ms") / 1000.0 / n
    out["parse.boot_s"] = (
        python_sum(mjobs, "parse", "start_ms") + python_sum(mjobs, "parse", "init_ms")
    ) / 1000.0 / n
    out["parse.sent_mb"] = python_sum(mjobs, "parse", "sent_bytes") / MIB / n
    out["parse.recv_mb"] = python_sum(mjobs, "parse", "recv_bytes") / MIB / n

    commits, final = named("icelite.commit"), named("model.final_commit")
    out["icelite.commits"] = (len(commits) + len(final)) / n
    out["icelite.commit_s"] = secs(commits)
    out["icelite.read_s"] = secs(named("icelite.read"))
    out["model.final_commit_s"] = secs(final)

    op_spans = [s for s in mspans if s.name.startswith("operators.")]
    if op_spans:
        for s in op_spans:
            key = f"{s.name}_s"
            if key in out:
                out[key] += s.seconds / n
        op_jobs = [j for j in mjobs if (j.group or "").startswith("operators.")]
        out["operators.tasks"] = len(tasks(op_jobs)) / n
        out["operators.task_skew"] = task_skew(op_jobs, cores)
        out["operators.python_s"] = python_sum(op_jobs, None, "run_ms") / 1000.0 / n
        out["operators.shuffle_mb"] = sum(t.shuffle_write for t in tasks(op_jobs)) / MIB / n
        out["operators.spill_mb"] = sum(t.spill for t in tasks(op_jobs)) / MIB / n

    all_tasks = tasks(mjobs)
    run_s = sum(t.run_ms for t in all_tasks) / 1000.0 / n
    wall_s = sum(hi - lo for lo, hi in windows) / 1000.0 / n
    out["jvm.gc_s"] = sum(t.gc_ms for t in all_tasks) / 1000.0 / n
    out["exec.cpu_s"] = sum(t.cpu_ns for t in all_tasks) / 1e9 / n
    out["exec.run_s"] = run_s
    out["exec.idle_share"] = 1.0 - run_s / (wall_s * cores) if wall_s else 0.0
    return out
