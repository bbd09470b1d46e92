"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Each run is a fresh process with a cold Spark JVM. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
untraced, the per-layer metrics traced). Lines before it name each
workload-specific figure with its unit. The exit code is 1 when a
correctness check fails and 2 when the program cannot be imported.

Two extra options serve the one-off measurements in README.md and are
not part of the gated runs: ``--rate`` (ticks per second offered by
``tick_restart``'s live feed) and ``--cores`` (Spark's local parallelism).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness as H  # noqa: E402

BENCH = json.loads((H.ROOT / "BENCHMARK.json").read_text())
WORKLOADS = tuple(w["name"] for w in BENCH["workloads"])
E2E = [m["name"] for m in BENCH["end_to_end"]]
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
PER_LAYER = [m["name"] for m in BENCH["per_layer"]]
#: Offered rate of tick_restart's live feed, below the sustainable rate
#: measured in README.md's sweep.
LIVE_RATE = 2000


class Report:
    """What a workload measured, checked and counted."""

    def __init__(self, trace: bool, spark, jvm_pid: int):
        self.trace, self.spark, self.jvm_pid = trace, spark, jvm_pid
        self.setup_parts: dict[str, float] = {}
        self.e2e_values: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.check_results: dict[str, tuple[bool, str]] = {}
        self.attempted = 0
        self.failed = 0

    def setup(self, name: str, seconds: float) -> None:
        self.setup_parts[name] = self.setup_parts.get(name, 0.0) + seconds

    def recorder(self):
        """Spark's progress listener, attached in traced runs only."""
        if not self.trace:
            return None
        from stock_trend_predictor_spark.streaming.monitor import (
            attach_recorder,
        )

        return attach_recorder(self.spark)

    def checks(self, results: dict[str, tuple[bool, str]]) -> None:
        self.check_results.update(results)

    def ops(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def e2e(self, **values: float) -> None:
        self.e2e_values.update(values)

    def note(self, name: str, value: float, unit: str) -> None:
        print(f"{name} {value:.6g} {unit}", flush=True)

    def layer_counts(self, values: dict[str, float]) -> None:
        self.layers.update(values)


def _prepare_work_dir() -> None:
    shutil.rmtree(H.WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (H.WORK / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(H.WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(H.WORK / "spark-local")
    # every JVM Spark starts, the launcher included, keeps its scratch
    # files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={H.WORK / 'tmp'}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(H.ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
    )
    import tempfile

    tempfile.tempdir = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=int, default=LIVE_RATE)
    ap.add_argument("--cores", type=int, default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, str(H.ROOT))
    try:
        import stock_trend_predictor_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program: {e}", file=sys.stderr)
        return 2

    _prepare_work_dir()
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _measure(a)
    finally:
        H.stop_processes()


def _measure(a) -> int:
    trace = bool(a.trace)
    # the live feed's generator process takes one core
    n = a.cores or (max(1, H.cores() - 1) if a.workload == "tick_restart"
                    else H.cores())
    run_id = uuid.uuid4().hex[:12]
    tracer = H.Tracer(trace, run_id)
    event_dir = H.WORK / "eventlog"
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = H.start_spark(n, event_dir if trace else None)
    session_s = time.perf_counter() - t
    report = Report(trace, spark, H.driver_jvm_pid(spark))
    report.setup("session.start_s", session_s)
    try:
        _run(a, spark, tracer, report)
    finally:
        peak = H.peak_rss_mb(report.jvm_pid)
        app_id = spark.sparkContext.applicationId
        H.stop_spark(spark)
    report.e2e(setup_s=sum(report.setup_parts.values()), peak_rss_mb=peak)
    for name, secs in report.setup_parts.items():
        report.note(name, secs, "s")

    ok = all(v[0] for v in report.check_results.values())
    for name, (good, detail) in sorted(report.check_results.items()):
        print(f"check {name}: {'ok' if good else 'FAILED'} ({detail})")
    if trace:
        metrics = _layer_metrics(a.workload, tracer, report, event_dir,
                                 app_id)
        tracer.dump(H.WORK / f"trace-{a.workload}.json")
    else:
        metrics = {k: report.e2e_values[k] for k in E2E}
        for k, v in metrics.items():
            report.note(k, v, UNITS[k])
    print(json.dumps({
        "correct": ok and report.failed == 0,
        "attempted": report.attempted,
        "failed": report.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if ok and report.failed == 0 else 1


def _run(a, spark, tracer, report) -> None:
    if a.workload == "tick_restart":
        from tick_workloads import run_ticks

        run_ticks(spark, a.seed, a.seconds, tracer, report, a.rate)
    else:
        from fold_workload import run_fold

        run_fold(spark, a.seed, a.seconds, tracer, report)


def _layer_metrics(workload, tracer, report, event_dir, app_id) -> dict:
    """Every per-layer metric of BENCHMARK.json; layers this workload does
    not exercise read 0."""
    values = dict(report.layers)
    values.update(report.setup_parts)
    jobs = H.read_event_log(event_dir, app_id)
    if workload == "fold_steady":
        from fold_workload import job_metrics

        values.update(job_metrics(tracer, jobs))
    for name, secs in tracer.self_times().items():
        values[f"self_s.{name}"] = secs
    return {k: float(values.get(k, 0.0)) for k in PER_LAYER}


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
