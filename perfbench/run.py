"""Seeded serve / ingest benchmark of the segment index.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one report line, then as the last
line a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. Exits 1 when any operation
failed or returned a result that differs from the oracle.

Spark runs on ``local[<usable cores>]`` with a 2g driver heap. Every
file the run writes (indexes, Spark scratch, event logs, temp files)
lives under ``.perfbench_work/`` in the repository root and is removed
at exit, except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kma_information_retrieval_spark.session import get_spark  # noqa: E402

from perfbench import tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, Run  # noqa: E402

HEAP = "2g"
CORES = len(os.sched_getaffinity(0))

SPAN_CLASSES = ("segments.build", "wand.bm25", "wand.bm25_head", "boolean.boolean",
                "boolean.phrase", "boolean.wildcard", "incremental.query",
                "incremental.compact")
QUERY_CLASSES = SPAN_CLASSES[1:6]
BUILD_PHASES = {"positional_store_s": ("phase_secs", "positional_store"),
                "stats_dictionary_s": ("phase_secs", "stats_dictionary"),
                "write_all_s": ("phase_secs", "write_all"),
                "encode_s": ("write_job_secs", "w_encode"),
                "metrics_s": ("phase_secs", "metrics")}


class Session:
    """The Spark session of one run. Each set-up starts it anew; ``close``
    also ends its JVM."""

    def __init__(self, work: str, eventlog: str | None):
        self.work = work
        self.spark = None
        self.confs = {"spark.ui.showConsoleProgress": "false"}
        if eventlog:
            self.confs |= {"spark.eventLog.enabled": "true",
                           "spark.eventLog.rolling.enabled": "false",
                           "spark.eventLog.compress": "false",
                           "spark.eventLog.dir": "file://" + eventlog}

    def start(self, tr, span: str = "session.launch") -> None:
        with tr.span(span):
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{CORES}]", driver_memory=HEAP,
                # -UsePerfData: the JVM would write /tmp/hsperfdata_<user>
                extra_java_options=f"-Xms{HEAP} -XX:-UsePerfData "
                                   f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                extra_configs=self.confs)

    def close(self) -> None:
        """Stop Spark and its JVM, and wait for every child process to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while tracing.descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in tracing.descendants():
            os.kill(pid, 9)


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(run: Run, counters: dict[int, dict]) -> dict:
    """Per-layer metrics of a traced run: per-op medians over spans of
    each class; 0 for a layer the workload does not call."""
    def dur(s):
        return s["end"] - s["start"]

    def named(name):
        return [s for s in run.tr.spans if s["name"] == name and s["end"]]

    def timed(name):
        return [s for s in named(name) if s["op"] is not None]

    m = dict(run.layer)
    m["session.launch_s"] = _median([dur(s) for s in named("session.launch")])
    m["session.start_s"] = _median([dur(s) for s in named("session.start")])
    m["segments.load_s"] = _median([dur(s) for s in named("segments.load")])
    for cls in SPAN_CLASSES:
        ss = named(cls) if cls == "segments.build" else timed(cls)
        for c in tracing.COUNTERS:
            m[f"{cls}.{c}"] = _median([counters[s["id"]][c] for s in ss])
    for cls in QUERY_CLASSES:
        ops = {s["id"] for s in timed(cls)}
        for part in ("plan", "exec"):
            m[f"{cls}.{part}_s"] = _median(
                [dur(s) for s in named(f"{cls}.{part}") if s["parent"] in ops])
        m[f"{cls}.input_rows"] = _median([counters[s["id"]]["input_rows"] for s in timed(cls)])
    builds = [mf for name, mf in run.manifests if name == "segments.build"]
    for metric, (section, key) in BUILD_PHASES.items():
        m[f"segments.build.{metric}"] = _median([mf[section][key] for mf in builds])
    m["segments.build.files_written"] = _median([mf["files_written"] for mf in builds])
    m["segments.build.bytes_written"] = _median([mf["bytes_written"] for mf in builds])
    m["incremental.delete_s"] = _median([dur(s) for s in timed("incremental.delete")])
    m["incremental.load_s"] = _median([dur(s) for s in timed("incremental.load")])
    m["incremental.query_s_per_gen"] = _median(
        [dur(s) / s["gens"] for s in timed("incremental.query")])
    m["trace.round_p50_s"] = run.extra["round_p50_s"]
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # The timed work is fixed, one round or cycle sized to take about
    # 10 s on a 4-core box, so that every commit measures the same
    # operations; the run length is accepted but does not change it.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    # Spark scratch, JVM and Python temp files, and the Python workers'
    # import path, all set before the JVM starts.
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable

    traced = bool(args.trace)
    tr = tracing.Tracer(traced)
    session = Session(work, os.path.join(work, "eventlog") if traced else None)
    mem = tracing.MemorySampler()
    run = Run(session, tr, work, args.seed, mem)
    try:
        try:
            with mem:
                e2e = WORKLOADS[args.workload](run, traced)
        finally:
            session.close()
        run.phase("close")
        e2e["peak_pss_mb"] = mem.peak_mb
        setup_times = e2e.pop("_setup_times")
        if traced:
            counters = tracing.span_counters(os.path.join(work, "eventlog"), tr.spans)
            metrics, section = layer_metrics(run, counters), "per_layer"
            tr.write(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics, section = e2e, "end_to_end"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec[section]}
    if set(metrics) - set(units):
        raise SystemExit(f"metrics missing from BENCHMARK.json {section}: "
                         f"{sorted(set(metrics) - set(units))}")
    if not traced and set(units) - set(metrics):
        raise SystemExit(f"end-to-end metrics not measured: {sorted(set(units) - set(metrics))}")
    print(json.dumps({"report": {
        "workload": args.workload, "seed": args.seed, "cores": CORES, "heap": HEAP,
        "loop": "closed, 1 client thread",
        "setup_s_samples": setup_times,
        "latency_s": {c: {"n": len(v), "p50": statistics.median(v), "max": max(v)}
                      for c, v in run.lat.items()},
        "phase_wall_s": run.phases, "mismatches": run.mismatches[:20], **run.extra}}))
    correct = run.failed == 0 and run.attempted > 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
