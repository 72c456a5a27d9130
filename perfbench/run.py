"""edgar-spark benchmark: one workload, one seed, one process.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Starts Spark at ``local[2]`` with 2 GB driver memory, generates the
workload's inputs from ``--seed``, runs the workload's warm-up iterations
(the first is cold; ``crawl`` needs a second before its wall time settles), then
times warm iterations for ``--seconds`` seconds and checks every
iteration's output. The last stdout line is the result:

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and spans and reports the per-layer metrics instead. The
full record of a run goes to
``.perfbench/results/<workload>.seed<seed>[.trace].json``. Everything the run
writes stays under ``.perfbench/`` in the repository.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
CORES = 2
DRIVER_MEMORY = "2g"
GEN_REPEATS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: pathlib.Path) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and let Python workers import the engine from the checkout."""
    work.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = str(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # no hsperfdata files in the system temp dir, JVM temp files under work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"


def start_session(work: pathlib.Path, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("edgar_spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
    )
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", str(work / "eventlog"))
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, tree) -> None:
    """Stop Spark, close the JVM gateway and wait for every descendant
    process to end (escalating to SIGKILL after a grace period)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — escalate below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    me = os.getpid()
    while True:
        rest = [p for p in tree.pids() if p != me]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.2)


def measure(wl, seconds: float, tree):
    """Warm iterations for ``seconds`` (at least one): stop before an
    iteration that would end past the budget at the median pace so far."""
    walls, cpus, windows, items, outcomes = [], [], [], [], []
    t_start = time.perf_counter()
    k = 1
    while True:
        cpu0, w0, t0 = tree.cpu_seconds(), time.time(), time.perf_counter()
        try:
            out = wl.iterate(k)
        except Exception:  # noqa: BLE001 — a raising iteration is a failed operation
            traceback.print_exc(file=sys.stderr)
            out = None
        t1, w1, cpu1 = time.perf_counter(), time.time(), tree.cpu_seconds()
        outcomes.append(out)
        if out is not None:
            walls.append(t1 - t0)
            cpus.append(cpu1 - cpu0)
            windows.append((w0 * 1000.0, w1 * 1000.0))
            items.append(out.items)
        k += 1
        elapsed = time.perf_counter() - t_start
        pace = statistics.median(walls) if walls else t1 - t0
        if elapsed + pace > seconds:
            return walls, cpus, windows, items, outcomes


def checked(outcome) -> tuple:
    """(attempted, failed) of one iteration, running its deferred check."""
    if outcome is None:
        return 1, 1
    try:
        return outcome.attempted, outcome.check()
    except Exception:  # noqa: BLE001 — a failing check is a failed operation
        traceback.print_exc(file=sys.stderr)
        return outcome.attempted, outcome.attempted


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import edgar_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench import layers, spans
        from perfbench.procsample import PeakSampler, ProcTree
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or Spark: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    work = base / f"work-{os.getpid()}"
    results = base / "results"
    prepare_environment(work)
    tree = ProcTree()
    attempted = failed = 0
    spark = None
    try:
        with PeakSampler(tree) as peak:
            t0 = time.perf_counter()
            spark = start_session(work, bool(args.trace))
            session_s = time.perf_counter() - t0
            tracer = spans.Tracer(spark.sparkContext) if args.trace else spans.NullTracer()
            if args.trace:
                spans.instrument_engine(tracer)
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
            gen_s = []
            for _ in range(GEN_REPEATS):
                g0 = time.perf_counter()
                wl.generate()
                gen_s.append(time.perf_counter() - g0)
            l0 = time.perf_counter()
            wl.load()
            load_s = time.perf_counter() - l0
            warmup_s = []
            for k in range(wl.warmups):
                w0 = time.perf_counter()
                try:
                    warm = wl.iterate(-1 - k)
                except Exception:  # noqa: BLE001 — counted, the timed iterations still run
                    traceback.print_exc(file=sys.stderr)
                    warm = None
                warmup_s.append(time.perf_counter() - w0)
                a, f = checked(warm)
                attempted, failed = attempted + a, failed + f
            setup_s = session_s + statistics.median(gen_s) + load_s + sum(warmup_s)

            walls, cpus, windows, items, outcomes = measure(wl, args.seconds, tree)
            for out in outcomes:
                a, f = checked(out)
                attempted, failed = attempted + a, failed + f
        if not walls:
            print("perfbench: every measured iteration raised", file=sys.stderr)
            return 1
        wall = statistics.median(walls)
        e2e = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (statistics.median(items) / wall, "items/s"),
            "cpu_s": (statistics.median(cpus), "s"),
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "code": code_digest(),
            "trace": args.trace,
            "cores": CORES,
            "attempted": attempted,
            "failed": failed,
            "setup": {"session_s": session_s, "generate_s": gen_s, "load_s": load_s,
                      "warmup_s": warmup_s},
            "iterations": {"wall_s": walls, "cpu_s": cpus, "items": items,
                           "detail": [o.detail for o in outcomes if o is not None]},
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "peak_rss_mb": peak.peak_mb,
            "peak_rss_by_process_mb": peak.peak_parts,
            "check": getattr(wl, "last_check", None),
        }
        if args.trace:
            stop_session(spark, tree)
            spark = None
            from perfbench import eventlog

            jobs = eventlog.load(str(work / "eventlog"))
            counts = dict(getattr(wl, "layer_counts", {}), **{"mem.peak_rss_mb": peak.peak_mb})
            per_layer = layers.compute(tracer.spans, jobs, windows, counts, CORES)
            metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
            record["per_layer"] = per_layer
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        stem = f"{args.workload}.seed{args.seed}" + (".trace" if args.trace else "")
        out_path = results / f"{stem}.json"
        results.mkdir(parents=True, exist_ok=True)
        if args.trace:
            record["tracing_overhead"] = overhead(results, out_path, record)
        out_path.write_text(json.dumps(record, indent=1, default=str))
    finally:
        if spark is not None:
            stop_session(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    return 0


def code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources, so records
    of different code are never compared."""
    h = hashlib.sha256()
    files = [ROOT / "__spark_entry__.py", *(ROOT / "edgar_spark").rglob("*.py"),
             *(ROOT / "perfbench").glob("*.py")]
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def overhead(results: pathlib.Path, out_path: pathlib.Path, record: dict) -> dict:
    """Tracing overhead, as untraced ÷ traced ``items_per_s`` − 1, against
    the kept records of the same workload and code: the untraced run of the
    same seed (``same_seed``), and the medians of every traced and untraced
    run (``medians``). A share is null when there is nothing to compare."""
    runs = [record] + [
        r for r in (json.loads(p.read_text())
                    for p in results.glob(f"{record['workload']}.seed*.json") if p != out_path)
        if r.get("code") == record["code"]
    ]
    traced = [r["end_to_end"]["items_per_s"] for r in runs if r["trace"]]
    untraced = {r["seed"]: r["end_to_end"]["items_per_s"] for r in runs if not r["trace"]}
    mine = record["end_to_end"]["items_per_s"]
    pair = untraced.get(record["seed"])
    return {
        "code": record["code"],
        "same_seed": {
            "traced_items_per_s": mine,
            "untraced_items_per_s": pair,
            "overhead_share": pair / mine - 1.0 if pair is not None else None,
        },
        "medians": {
            "traced_runs": len(traced),
            "untraced_runs": len(untraced),
            "overhead_share": (statistics.median(untraced.values()) / statistics.median(traced)
                               - 1.0) if untraced else None,
        },
    }


if __name__ == "__main__":
    sys.exit(main())
