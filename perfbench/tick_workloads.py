"""``tick_restart``: the reference pipeline restarted after an outage.

Ingest is ``read_tick_file_stream`` -> ``dedup_ticks`` and feeds three
consumers, each its own streaming query: ``route_by_source`` (history,
realtime, DLQ), ``windowed_ohlc`` into a per-symbol parquet sink, and a
``foreachBatch`` here that scores realtime ticks with
``score_stream_batch``.

The run has two timed phases on the same checkpoints and sinks:

1. drain: a seeded backlog is drained by one ``availableNow`` run of all
   three consumers. Micro-batches are big, so per-row work dominates.
2. live: the scoring and window queries restart on a processing-time
   trigger while a separate generator process appends files at a fixed
   rate. Batches are small, so per-batch fixed cost dominates. Routing
   only drains (``route_by_source`` fixes ``availableNow``), so it catches
   up after the feed.

Two compositions are the benchmark's, each working around a defect that
the README records:

- ``score_stream_batch`` fails on close-only ticks (null features under
  ``handleInvalid = "error"``), so only complete-feature rows are scored
  and the rest are counted as unscorable;
- ``dedup_ticks`` keys on (symbol, ts), which is (null, null) for every
  corrupt line, so all but one corrupt line would vanish before the DLQ;
  the routing query therefore dedups the good rows and passes the corrupt
  rows around the dedup.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

import ticks as T
from harness import WORK, Tracer, median, percentile, rows_digest

#: Backlog: the reference's one-shot backfill, 3 symbols x 7 days x 390
#: one-minute bars = 8190 ticks, in 21 files drained 8 per micro-batch.
BACKLOG_FILES = 21
BACKLOG_TICKS_PER_FILE = 390
FILES_PER_TRIGGER = 8
#: The live queries, and routing's untimed catch-up after the feed, take
#: every file present in one micro-batch.
LIVE_FILES_PER_TRIGGER = 1000
#: The live feed's file period and the consumers' trigger interval: each
#: trigger claims the same 8 files.
LIVE_PERIOD_S = 0.25
TRIGGER_S = 2.0
#: The live feed runs this long before its timed ``--seconds``. Ticks due
#: in it are not timed: the restarted queries' first batches reload their
#: state and plan anew.
LIVE_WARMUP_S = 4.0
TRAIN_TICKS = 2000
WARMUP_FILES = 2
#: A drain that has not finished by then is reported as a failed run.
QUERY_TIMEOUT_S = 120
DRAIN = {"availableNow": True}
LIVE = {"processingTime": f"{round(TRIGGER_S * 1000)} milliseconds"}


def _features_complete():
    from pyspark.sql import functions as F

    from stock_trend_predictor_spark.ml.pipeline import FEATURES

    cond = F.lit(True)
    for c in FEATURES:
        cond = cond & F.col(c).isNotNull()
    return cond


def train_model(spark, seed: int):
    """RF pipeline fitted on a seeded history of complete OHLCV ticks."""
    from stock_trend_predictor_spark.ml.pipeline import (
        build_pipeline,
        with_movement_label,
    )

    files = T.plan_feed(seed + 7919, 1, TRAIN_TICKS, T.Mix(
        dup=0.0, late=0.0, corrupt=0.0, close_only=0.0, history=1.0))
    rows = [
        (ln.tick.symbol, ln.tick.open, ln.tick.high, ln.tick.low,
         ln.tick.close, ln.tick.volume)
        for ln in files[0]
    ]
    df = spark.createDataFrame(
        rows, "symbol string, open double, high double, low double, "
        "close double, volume double")
    return build_pipeline().fit(with_movement_label(df))


class Pipeline:
    """The three consumer queries over one tick directory."""

    def __init__(self, spark, model, root: Path, tracer: Tracer):
        self.spark, self.model, self.root, self.tracer = (
            spark, model, root, tracer)
        self.returned: dict[int, float] = {}
        self.score_parent: int | None = None
        self.files_per_trigger = FILES_PER_TRIGGER
        self.src = str(root / "src")
        os.makedirs(self.src, exist_ok=True)

    def path(self, name: str) -> str:
        return str(self.root / name)

    def _parsed(self):
        from stock_trend_predictor_spark.streaming.ingest import (
            read_tick_file_stream,
        )

        return read_tick_file_stream(
            self.spark, self.src, max_files_per_trigger=self.files_per_trigger)

    def _good_deduped(self):
        from pyspark.sql import functions as F

        from stock_trend_predictor_spark.streaming.ingest import dedup_ticks

        return dedup_ticks(self._parsed().where(~F.col("is_corrupt")))

    def start_routing(self):
        from pyspark.sql import functions as F

        from stock_trend_predictor_spark.streaming.routing import (
            route_by_source,
        )

        ticks = self._good_deduped().unionByName(
            self._parsed().where(F.col("is_corrupt")))
        return route_by_source(
            ticks, self.path("history"), self.path("realtime"),
            self.path("ckpt-routing"), corrupt_path=self.path("dlq"))

    def start_windows(self, trigger: dict):
        from stock_trend_predictor_spark.streaming.routing import (
            write_partitioned_by_symbol,
        )
        from stock_trend_predictor_spark.streaming.windows import (
            windowed_ohlc,
        )

        bars = windowed_ohlc(self._good_deduped(), watermark_delay=None)
        if trigger == DRAIN:
            return write_partitioned_by_symbol(
                bars, self.path("bars"), self.path("ckpt-windows"))
        # the same sink, on the trigger write_partitioned_by_symbol fixes
        return (
            bars.writeStream.format("parquet")
            .option("path", self.path("bars"))
            .option("checkpointLocation", self.path("ckpt-windows"))
            .partitionBy("symbol")
            .trigger(**trigger)
            .start()
        )

    def start_scoring(self, trigger: dict):
        from pyspark.sql import functions as F

        from stock_trend_predictor_spark.ml.pipeline import score_stream_batch

        complete = _features_complete()
        preds = self.path("predictions")

        def score(batch, batch_id: int) -> None:
            with self.tracer.span("ml.score", self.score_parent):
                rt = batch.where((F.col("source") == "realtime") & complete)
                score_stream_batch(self.model, rt).withColumn(
                    "batch_id", F.lit(batch_id)
                ).write.mode("append").parquet(preds)
            self.returned[batch_id] = time.time()

        return (
            self._good_deduped().writeStream.foreachBatch(score)
            .option("checkpointLocation", self.path("ckpt-scoring"))
            .trigger(**trigger)
            .start()
        )


def _await(query) -> None:
    if not query.awaitTermination(QUERY_TIMEOUT_S):
        query.stop()
        raise RuntimeError(f"query {query.id} did not drain in "
                           f"{QUERY_TIMEOUT_S} s")


def _files_under(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    )


def _count_parquet(spark, path: str) -> int:
    """Rows under a parquet sink; a sink that never got a row is empty."""
    return spark.read.parquet(path).count() if _files_under(path) else 0


def check_sinks(spark, model, pipe: Pipeline, truth: T.Truth):
    """Compare the sinks with the generator's truth and the streamed
    predictions with a batch re-score of the realtime sink.

    Returns (checks, counts); each check is (ok, detail)."""
    from stock_trend_predictor_spark.ml.pipeline import score_stream_batch
    from stock_trend_predictor_spark.streaming.ingest import (
        parse_tick_envelope,
    )

    raw = spark.read.text(pipe.src).selectExpr(
        "CAST(value AS BINARY) AS value")
    counts = {
        name: _count_parquet(spark, pipe.path(name))
        for name in ("history", "realtime", "dlq", "predictions")
    }
    counts["corrupt"] = parse_tick_envelope(raw).where("is_corrupt").count()
    rt = spark.read.parquet(pipe.path("realtime"))
    counts["unscorable"] = rt.where(~_features_complete()).count()
    streamed = rows_digest(spark.read.parquet(pipe.path("predictions"))
                           .drop("batch_id").collect())
    batch = rows_digest(
        score_stream_batch(model, rt.where(_features_complete())).collect())
    deduped = counts["history"] + counts["realtime"]

    def eq(got: int, want: int) -> tuple[bool, str]:
        return got == want, f"{got} vs {want}"

    checks = {
        "dedup": eq(deduped, truth.unique),
        "history": eq(counts["history"], truth.history),
        "realtime": eq(counts["realtime"], truth.realtime),
        "dlq": eq(counts["dlq"], truth.corrupt),
        "corrupt": eq(counts["corrupt"], truth.corrupt),
        "predictions": (
            streamed == batch and counts["predictions"] == truth.scorable,
            f"sha256 {streamed[1][:12]} vs batch re-score "
            f"{batch[1][:12]}; {counts['predictions']} vs {truth.scorable}",
        ),
    }
    return checks, counts


def _failed_ticks(counts: dict, truth: T.Truth) -> int:
    """Expected ticks that did not reach their sink."""
    return (
        max(0, truth.history - counts["history"])
        + max(0, truth.realtime - counts["realtime"])
        + max(0, truth.corrupt - counts["dlq"])
        + max(0, truth.scorable - counts["predictions"])
    )


def _warm_up(spark, model) -> None:
    """One small drain through all three consumers, so the timed phases
    do not pay first-use code generation."""
    root = WORK / "warmup"
    T.write_backlog(str(root / "src"), T.plan_feed(0, WARMUP_FILES, 1000), 1000)
    pipe = Pipeline(spark, model, root, Tracer(False, ""))
    for q in (pipe.start_routing(), pipe.start_windows(DRAIN),
              pipe.start_scoring(DRAIN)):
        _await(q)
    shutil.rmtree(root)


def _state_rows(query, op: str) -> int:
    progress = query.lastProgress or {}
    return sum(
        s.get("numRowsTotal", 0)
        for s in progress.get("stateOperators") or []
        if s.get("operatorName") == op
    )


def _dropped_dups(*queries) -> int:
    return sum(
        (s.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0)
        for q in queries
        for p in q.recentProgress
        for s in p.get("stateOperators") or []
    )


def _add_batch_ms(*queries) -> float:
    return sum(
        (p.get("durationMs") or {}).get("addBatch", 0)
        for q in queries for p in q.recentProgress
    )


#: Spark's per-batch durations and the per-layer names they report as.
STREAM_PHASES = {
    "latestOffset": "latest_offset_ms", "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms", "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
    "triggerExecution": "trigger_ms",
}


def _stream_layers(events) -> dict:
    """Mean per-batch durations of the micro-batches that read data."""
    busy = [e for e in events if e.num_input_rows > 0]
    out = {
        f"stream.{name}": sum(e.duration_ms.get(k, 0) for e in busy)
        / max(1, len(busy))
        for k, name in STREAM_PHASES.items()
    }
    out["stream.batches"] = len(busy)
    return out


def _log_ids(log: str) -> list[int]:
    """Batch ids of a checkpoint log (``7``, ``9.compact``)."""
    return [int(n.split(".")[0]) for n in os.listdir(log)
            if not n.startswith(".")]  # checksum files


def _unclaimed(src: str, source_log: str) -> int:
    """Files in ``src`` that no entry of a file-source log names."""
    claimed = set()
    for i in _log_ids(source_log):
        name = os.path.join(source_log, str(i))
        if not os.path.exists(name):
            name += ".compact"
        with open(name) as fh:
            claimed.update(
                os.path.basename(json.loads(ln)["path"])
                for ln in fh if ln.startswith("{"))
    return len(set(os.listdir(src)) - claimed)


def _await_feed(query, src: str, ckpt: str) -> None:
    """Block until ``query`` has claimed every file of ``src`` and committed
    the batches that claimed them. ``processAllAvailable`` would also wait
    for a trigger that finds nothing new, and a no-data batch before it:
    up to two trigger intervals more."""
    source_log = os.path.join(ckpt, "sources", "0")
    deadline = time.monotonic() + QUERY_TIMEOUT_S
    while True:
        commits = _log_ids(os.path.join(ckpt, "commits"))
        if commits and not _unclaimed(src, source_log):
            # the source's log offset in the last committed batch
            with open(os.path.join(ckpt, "offsets", str(max(commits)))) as fh:
                done = json.loads(fh.read().splitlines()[2])["logOffset"]
            if done >= max(_log_ids(source_log)):
                return
        if not query.isActive or time.monotonic() > deadline:
            raise RuntimeError(f"query {query.id} did not take the whole "
                               "live feed")
        time.sleep(0.05)


class BacklogSampler:
    """Files in the source directory that no micro-batch has claimed yet,
    sampled from outside every ``interval`` seconds."""

    def __init__(self, src: str, source_log: str, interval: float = 0.25):
        self.src, self.log, self.interval = src, source_log, interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def backlog(self) -> int:
        return _unclaimed(self.src, self.log)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append(self.backlog())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def run_ticks(spark, seed: int, seconds: int, tracer: Tracer, report,
              rate: int) -> None:
    t = time.perf_counter()
    with tracer.span("ml.train"):
        model = train_model(spark, seed)
    report.setup("ml.train_s", time.perf_counter() - t)
    root = WORK / "ticks"
    t = time.perf_counter()
    backlog = T.plan_feed(seed, BACKLOG_FILES, BACKLOG_TICKS_PER_FILE)
    T.write_backlog(str(root / "src"), backlog, BACKLOG_TICKS_PER_FILE)
    report.setup("gen.input_s", time.perf_counter() - t)
    t = time.perf_counter()
    _warm_up(spark, model)
    report.setup("warmup_s", time.perf_counter() - t)

    recorder = report.recorder()
    pipe = Pipeline(spark, model, root, tracer)

    # ---- drain
    t0 = time.time()
    with tracer.span("drain") as drain_span:
        pipe.score_parent = drain_span.sid
        with tracer.span("ingest.start"):
            drain_q = [pipe.start_routing(), pipe.start_windows(DRAIN),
                       pipe.start_scoring(DRAIN)]
        with tracer.span("stream.await"):
            for q in drain_q:
                _await(q)
    drain_s = time.time() - t0
    drain_batches = set(pipe.returned)
    n_drain_events = len(recorder.events) if recorder else 0

    # ---- live
    pipe.files_per_trigger = LIVE_FILES_PER_TRIGGER
    with tracer.span("ingest.start"):
        scoring, windows = pipe.start_scoring(LIVE), pipe.start_windows(LIVE)
    live_seed = seed + 1
    # the processing-time trigger fires on multiples of its interval since
    # the epoch; starting the feed half a file period after one gives every
    # run the same file-to-trigger phases, with no file written close to a
    # trigger
    t_live = (math.ceil((time.time() + 0.5) / TRIGGER_S) * TRIGGER_S
              + LIVE_PERIOD_S / 2)
    gen = subprocess.Popen(
        [sys.executable, str(Path(T.__file__)), "--seed", str(live_seed),
         "--rate", str(rate), "--period", str(LIVE_PERIOD_S),
         "--seconds", str(seconds + LIVE_WARMUP_S), "--t0", repr(t_live),
         "--out", pipe.src, "--staging", str(root / "staging"),
         "--manifest", str(root / "feed.json")])
    sampler = BacklogSampler(pipe.src, pipe.path("ckpt-scoring/sources/0"))
    try:
        with tracer.span("live") as live_span:
            pipe.score_parent = live_span.sid
            if tracer.enabled:
                with sampler:
                    gen.wait(timeout=seconds + 60)
                    backlog_end = sampler.backlog()
            else:
                gen.wait(timeout=seconds + 60)
                backlog_end = 0
            with tracer.span("stream.drain_out"):
                _await_feed(scoring, pipe.src, pipe.path("ckpt-scoring"))
                _await_feed(windows, pipe.src, pipe.path("ckpt-windows"))
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"tick generator exited {gen.returncode}")
    n_live_events = len(recorder.events) if recorder else 0
    scoring.stop()
    windows.stop()
    with tracer.span("routing.catch_up"):
        catch_up = pipe.start_routing()
        _await(catch_up)

    # ---- checks and metrics, outside the timed phases
    meta = json.loads((root / "feed.json").read_text())
    tpf = meta["ticks_per_file"]
    live = T.plan_feed(live_seed, meta["files"], tpf)
    clock = T.live_clock(t_live, LIVE_PERIOD_S, tpf)
    timed_from_us = (t_live + LIVE_WARMUP_S) * 1e6
    on_time = {
        clock.ts_us(ln.tick.i)
        for fl in live for ln in fl
        if ln.form == "tick" and not ln.late and ln.tick.kind == "realtime"
        and clock.ts_us(ln.tick.i) >= timed_from_us
    }
    drain_lat, live_lat = [], []
    for r in spark.read.parquet(pipe.path("predictions")).selectExpr(
            "unix_micros(ts) AS us", "batch_id").collect():
        done = pipe.returned[r["batch_id"]]
        if r["batch_id"] in drain_batches:
            drain_lat.append(done - t0)
        elif r["us"] in on_time:
            live_lat.append(done - r["us"] / 1e6)
    truth_backlog, truth_live = T.truth_of(backlog), T.truth_of(live)
    truth = T.merge(truth_backlog, truth_live)
    checks, counts = check_sinks(spark, model, pipe, truth)
    report.checks(checks)
    report.ops(truth.lines, _failed_ticks(counts, truth))

    drain_rate = truth_backlog.lines / drain_s
    p50, p95 = median(live_lat), percentile(live_lat, 95)
    report.e2e(throughput_per_s=drain_rate, latency_ms_p50=1e3 * p50)
    report.note("drain_ticks_per_s", drain_rate, "1/s")
    report.note("drain_tick_to_score_ms_p50", 1e3 * median(drain_lat), "ms")
    report.note("tick_to_score_ms_p50", 1e3 * p50, "ms")
    if p95 is not None:
        report.note("tick_to_score_ms_p95", 1e3 * p95, "ms")
    report.note("live_on_time_ticks_timed", len(live_lat), "count")
    report.note("live_generator_late_s_max", max(meta["lateness_s"]), "s")

    routing, win_drain, score_drain = drain_q
    layers = {
        "ingest.rows_in": truth.lines,
        "ingest.rows_corrupt": counts["corrupt"],
        "ingest.rows_dup_dropped": _dropped_dups(score_drain, scoring),
        "ingest.dedup_state_rows": _state_rows(scoring, "dedupe"),
        "ingest.backlog_files_max": max(sampler.samples, default=0),
        "ingest.backlog_files_end": backlog_end,
        "routing.rows_history": counts["history"],
        "routing.rows_realtime": counts["realtime"],
        "routing.rows_dlq": counts["dlq"],
        "routing.files_written": sum(
            _files_under(pipe.path(p)) for p in ("history", "realtime", "dlq")),
        "routing.add_batch_ms": _add_batch_ms(routing, catch_up),
        "ml.score_ms": _add_batch_ms(score_drain, scoring),
        "ml.rows_scored": counts["predictions"],
        "ml.rows_unscorable": counts["unscorable"],
        "windows.state_rows": _state_rows(windows, "stateStoreSave"),
        "windows.bars_out": _count_parquet(spark, pipe.path("bars")),
        "windows.add_batch_ms": _add_batch_ms(win_drain, windows),
    }
    if recorder is not None:
        layers.update(_stream_layers(
            recorder.events[n_drain_events:n_live_events]))
    report.layer_counts(layers)
