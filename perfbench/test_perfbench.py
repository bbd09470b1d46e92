"""Tests of the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness as H  # noqa: E402
import tables  # noqa: E402
import ticks as T  # noqa: E402


def _backlog_bytes(tmp: Path, seed: int) -> dict[str, bytes]:
    out = tmp / f"seed{seed}"
    T.write_backlog(str(out), T.plan_feed(seed, 4, 300), 300)
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_tick_feed_is_a_function_of_the_seed(tmp_path):
    a = _backlog_bytes(tmp_path / "a", 7)
    b = _backlog_bytes(tmp_path / "b", 7)
    c = _backlog_bytes(tmp_path / "c", 8)
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_tables_are_a_function_of_the_seed(tmp_path):
    names = ("documents", "embeddings")
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        tables.write_tables(str(tmp_path / d), seed, 0.002)

    def read(d):
        return {n: (tmp_path / d / f"{n}.parquet").read_bytes() for n in names}

    assert read("a") == read("b")
    assert all(read("a")[n] != read("c")[n] for n in names)


def test_configured_shares_are_met():
    mix = T.Mix()
    files = T.plan_feed(5, 40, 1000, mix)
    truth = T.truth_of(files)
    created = 40 * 1000
    assert truth.unique == created
    assert truth.dup / created == pytest.approx(mix.dup, abs=0.005)
    assert truth.corrupt / created == pytest.approx(mix.corrupt, abs=0.003)
    # a tick drawn late in the last file has nowhere later to go
    assert truth.late / created == pytest.approx(mix.late, abs=0.006)
    assert truth.close_only / created == pytest.approx(mix.close_only, abs=0.01)
    assert truth.history / created == pytest.approx(mix.history, abs=0.01)
    assert truth.lines == truth.unique + truth.dup + truth.corrupt


def test_lines_parse_as_planned_and_stay_inside_the_watermark():
    files = T.plan_feed(9, 6, 200)
    clock = T.Clock(T.BACKLOG_T0_US, 200 * T.BACKLOG_STEP_US, 200,
                    T.BACKLOG_STEP_US)
    seen_max = 0
    for lines in files:
        for ln in lines:
            text = T.render(ln, clock.ts_us(ln.tick.i))
            if ln.form == "corrupt":
                with pytest.raises(json.JSONDecodeError):
                    json.loads(text)
                continue
            doc = json.loads(text)
            assert doc["symbol"] == ln.tick.symbol
            assert ("close_price" in doc) == (ln.tick.kind == "close_only")
            ts = clock.ts_us(ln.tick.i)
            seen_max = max(seen_max, ts)
            # 10-minute watermark delay of dedup_ticks / windowed_ohlc
            assert seen_max - ts < 600 * 1_000_000


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 201)]
    assert H.percentile(xs, 95) == 190.0  # 10 samples above it
    assert H.percentile(xs[:199], 95) is None  # only 9 above
    assert H.percentile(xs[:5], 50) == 3.0  # the median is always reported
    assert H.percentile([], 50) is None
    assert H.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_self_time_subtracts_the_union_of_children():
    spans = [
        H.Span("root", 0.0, 10.0, None, 0),
        H.Span("a", 1.0, 4.0, 0, 1),
        H.Span("b", 3.0, 6.0, 0, 2),  # overlaps a: union is 1..6
        H.Span("c", 9.0, 12.0, 0, 3),  # runs past the parent's end
        H.Span("leaf", 2.0, 3.0, 1, 4),
    ]
    self_s = H.self_times(spans)
    assert self_s["root"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_s["a"] == pytest.approx(3.0 - 1.0)
    assert self_s["b"] == pytest.approx(3.0)
    assert self_s["c"] == pytest.approx(3.0)
    assert self_s["leaf"] == pytest.approx(1.0)


def test_tracer_nests_and_names_parents():
    tr = H.Tracer(True, "r")
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
    with tr.span("callback", outer.sid):
        pass
    parents = {s.name: s.parent for s in tr.spans}
    assert parents == {"outer": None, "inner": outer.sid, "callback": outer.sid}
    off = H.Tracer(False, "r")
    with off.span("x"):
        pass
    assert off.spans == []


def test_driver_gap_counts_time_without_a_job():
    jobs = [H.Job(1.0, 2.0, "", ""), H.Job(1.5, 3.0, "", ""),
            H.Job(5.0, 6.0, "", "")]
    assert H.driver_gap_s(jobs, 0.0, 7.0) == pytest.approx(7.0 - 3.0)
    assert H.job_phase_of(H.Job(0, 1, "fold | ndfold3:merge | cc:out", "")) \
        == "cc:out"
    assert H.job_phase_of(H.Job(0, 1, "fold", "")) == "-"


def test_rows_digest_ignores_row_order_but_not_values():
    from pyspark.sql import Row

    a = [Row(k=1, v=0.5), Row(k=2, v=None), Row(k=2, v=None)]
    assert H.rows_digest(a) == H.rows_digest(list(reversed(a)))
    assert H.rows_digest(a)[0] == 3
    assert H.rows_digest(a) != H.rows_digest(a[:2])
    assert H.rows_digest(a) != H.rows_digest([Row(k=1, v=0.25)] + a[1:])


def test_stop_processes_ends_children_and_grandchildren():
    # a shell whose own child outlives it once the shell is killed
    sh = subprocess.Popen(["sh", "-c", "sleep 60 & wait"])
    deadline = time.monotonic() + 10
    while len(H.descendants()) < 2:
        assert time.monotonic() < deadline
        time.sleep(0.01)
    started = H.descendants()
    assert sh.pid in started
    H.stop_processes()
    sh.wait(timeout=1)
    assert H.descendants() == {}
    assert H._alive(started) == []
