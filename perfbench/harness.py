"""Shared pieces of the benchmark: work directory, Spark session, spans,
percentiles, memory and event-log readers.

Nothing here starts Spark at import time; ``run.py`` calls ``start_spark``
after it has pointed every temporary directory into the checkout.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import signal
import subprocess
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
#: The driver JVM's maximum heap. Only the maximum is fixed, so the peak
#: resident set follows the memory the program actually touches.
HEAP = "1g"
#: The serial collector grows the heap by occupancy alone; G1 also grows
#: it by measured GC time, so its peak resident set follows the host's
#: speed from run to run.
GC = "-XX:+UseSerialGC"


def cores() -> int:
    """Cores this process may run on (the box's ``nproc``)."""
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- statistics


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None when fewer than ten
    samples lie beyond it (a tail read from fewer points is noise).

    The median is exempt from the rule: it is always reported."""
    if not samples:
        return None
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(q / 100.0 * n))
    if q > 50 and n - rank < 10:
        return None
    return xs[rank - 1]


def median(samples: list[float]) -> float:
    xs = sorted(samples)
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def rows_digest(rows) -> tuple[int, str]:
    """Row count and an order-free SHA-256 digest of collected rows."""
    keys = sorted(repr(sorted(r.asDict().items())) for r in rows)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()


# -------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    sid: int


@dataclass
class Tracer:
    """In-memory spans around the benchmark's own calls into each layer.

    When ``enabled`` is false a span records nothing. Each thread nests
    its own spans; a span opened on a Spark callback thread names its
    parent explicitly."""

    enabled: bool
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def span(self, name: str, parent: int | None = None):
        return _SpanCtx(self, name, parent)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans)

    def dump(self, path: Path) -> None:
        path.write_text(
            json.dumps(
                {
                    "run_id": self.run_id,
                    "spans": [s.__dict__ for s in self.spans],
                    "self_s": self.self_times(),
                },
                indent=1,
            )
        )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: int | None):
        self.t, self.name, self.parent = tracer, name, parent
        self.sid: int | None = None

    def __enter__(self):
        if self.t.enabled:
            stack = self.t._stack()
            parent = self.parent
            if parent is None and stack:
                parent = stack[-1]
            with self.t._lock:
                self.sid = len(self.t.spans)
                self.t.spans.append(
                    Span(self.name, time.time(), math.nan, parent, self.sid)
                )
            stack.append(self.sid)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t.spans[self.sid].end = time.time()
            self.t._stack().pop()
        return False


def _covered(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the part of its
    interval that its children cover (children may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.sid, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - _covered(kids)
    return out


# ------------------------------------------------------------------ session


def start_spark(master_cores: int, event_dir: Path | None):
    """A cold session with the engine's defaults, shuffle partitions equal
    to the cores it runs on and every scratch path inside ``WORK``; Spark's
    event log goes to ``event_dir`` when one is given."""
    from stock_trend_predictor_spark import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": GC,
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": str(event_dir),
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{master_cores}]",
        shuffle_partitions=master_cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session's queries, the session and its JVM, then every
    process the run started; returns when each has ended."""
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        stop_processes()


def stop_processes() -> None:
    """Shut down the Py4J gateway JVM, if one runs, and end every
    descendant of this process, waiting until each is gone.

    The JVM would exit by itself once this process closes its stdin, but
    only after this process is gone; here it is made to exit first. Its
    children are listed before it exits: after, they no longer descend
    from this process."""
    from pyspark import SparkContext

    procs = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        jvm = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            if jvm.stdin is not None:
                jvm.stdin.close()  # the gateway exits at the end of stdin
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    procs.update(descendants())
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        alive = _alive(procs)
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = _alive(procs)
        if not alive:
            return
    raise RuntimeError(f"processes still running: {sorted(alive)}")


def _stat(pid: int) -> tuple[str, int, str] | None:
    """(state, parent pid, start time) of a process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return rest[0], int(rest[1]), rest[19]


def descendants() -> dict[int, str]:
    """Every process below this one, pid to start time."""
    parent: dict[int, int] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            parent[int(d)], start[int(d)] = st[1], st[2]
    out: dict[int, str] = {}
    todo = [os.getpid()]
    while todo:
        p = todo.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                out[c] = start[c]
                todo.append(c)
    return out


def _alive(procs: dict[int, str]) -> list[int]:
    """Pids of ``procs`` that still run as the same process; children of
    this process that have exited are reaped."""
    out = []
    for pid, start in procs.items():
        st = _stat(pid)
        if st is None or st[2] != start:
            continue
        if st[0] == "Z" and st[1] == os.getpid():
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            continue
        if st[0] != "Z":
            out.append(pid)
    return out


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def driver_jvm_pid(spark) -> int:
    return int(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    )


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    start: float
    end: float
    desc: str
    group: str


def read_event_log(event_dir: Path, app_id: str) -> list[Job]:
    """Jobs from a finished application's event log, sorted by start."""
    root = event_dir / app_id
    if not root.exists():
        root = event_dir / f"eventlog_v2_{app_id}"
    files = [root] if root.is_file() else sorted(root.glob("events_*"))
    jobs: dict[int, Job] = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Submission Time"] / 1000.0,
                        math.nan,
                        props.get("spark.job.description") or "",
                        props.get("spark.jobGroup.id") or "",
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
    return sorted(
        (j for j in jobs.values() if not math.isnan(j.end)),
        key=lambda j: j.start,
    )


def job_phase_of(job: Job) -> str:
    """The innermost ``job_phase`` label of a job, or ``-`` for none."""
    return job.desc.rsplit(" | ", 1)[1] if " | " in job.desc else "-"


def driver_gap_s(jobs: list[Job], t0: float, t1: float) -> float:
    """Time inside [t0, t1] during which no job of ``jobs`` was running."""
    busy = [
        (max(j.start, t0), min(j.end, t1))
        for j in jobs
        if min(j.end, t1) > max(j.start, t0)
    ]
    return (t1 - t0) - _covered(busy)
