"""Seeded tick feed: Kafka-envelope JSON lines, one file per feed step.

The plan (which tick lands in which file, which are late, duplicated or
corrupt) depends only on the seed and the feed size. Event times are
rendered from the plan: a backlog spaces ticks evenly from a fixed base
time; the live feed stamps each tick with the wall-clock time at which
its file was due, so a tick's event time is its creation time.

Run as a script this module is the live-feed generator process:

    python3 perfbench/ticks.py --seed 1 --rate 2000 --period 0.2 \
        --seconds 10 --t0 <epoch> --out DIR --staging DIR --manifest FILE
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
import time
from dataclasses import dataclass

#: The reference's static symbol list; each poll fetches every symbol
#: once, so ticks cycle through them.
SYMBOLS = ("AAPL", "MSFT", "GOOGL")
#: Late ticks and re-deliveries land at most this many files after the
#: file they were created in; both feeds keep that under the pipeline's
#: 10-minute watermark, so no tick is dropped as too late and the truth
#: does not depend on where micro-batch boundaries fall.
MAX_DISPLACEMENT_FILES = 2


@dataclass(frozen=True)
class Mix:
    """Traffic dimensions of a feed (shares are per created tick)."""

    dup: float = 0.05
    late: float = 0.10
    corrupt: float = 0.02
    close_only: float = 0.30
    history: float = 0.30


@dataclass(frozen=True)
class Tick:
    i: int  # creation index; the event time is rendered from it
    symbol: str
    open: float
    high: float
    low: float
    close: float
    volume: float
    kind: str  # "history" | "realtime" | "close_only"


@dataclass(frozen=True)
class Line:
    tick: Tick
    form: str  # "tick" | "dup" | "corrupt"
    late: bool
    cut: int = 0  # corrupt lines keep this many characters


@dataclass
class Truth:
    lines: int = 0
    corrupt: int = 0
    dup: int = 0
    late: int = 0
    unique: int = 0
    history: int = 0
    realtime: int = 0
    close_only: int = 0
    scorable: int = 0


def plan_feed(
    seed: int, n_files: int, ticks_per_file: int, mix: Mix = Mix()
) -> list[list[Line]]:
    """Lines of each file, in the order they are written."""
    rng = random.Random(seed)
    price = {s: 50.0 + 40.0 * k for k, s in enumerate(SYMBOLS)}
    files: list[list[tuple[float, Line]]] = [[] for _ in range(n_files)]
    for i in range(n_files * ticks_per_file):
        f = i // ticks_per_file
        sym = SYMBOLS[i % len(SYMBOLS)]
        o = price[sym] * (1.0 + rng.gauss(0.0, 0.001))
        c = o * (1.0 + rng.gauss(0.0, 0.002))
        price[sym] = c
        u = rng.random()
        kind = (
            "close_only"
            if u < mix.close_only
            else "history"
            if u < mix.close_only + mix.history
            else "realtime"
        )
        t = Tick(
            i,
            sym,
            round(o, 4),
            round(max(o, c) * (1.0 + abs(rng.gauss(0.0, 0.001))), 4),
            round(min(o, c) * (1.0 - abs(rng.gauss(0.0, 0.001))), 4),
            round(c, 4),
            float(int(rng.lognormvariate(6.0, 1.0)) + 1),
            kind,
        )
        late = rng.random() < mix.late
        home = f
        if late:
            home = min(n_files - 1, f + rng.randint(1, MAX_DISPLACEMENT_FILES))
            late = home != f
        pos = i + rng.random()
        files[home].append((pos, Line(t, "tick", late)))
        if rng.random() < mix.dup:
            d = min(n_files - 1, home + rng.randint(0, MAX_DISPLACEMENT_FILES))
            files[d].append((pos + (d - home) * ticks_per_file + 0.5,
                             Line(t, "dup", late)))
        if rng.random() < mix.corrupt:
            files[f].append((pos + 0.25, Line(t, "corrupt", False,
                                              rng.randint(1, 40))))
    return [[ln for _, ln in sorted(fl, key=lambda x: x[0])] for fl in files]


def truth_of(files: list[list[Line]]) -> Truth:
    t = Truth()
    for fl in files:
        for ln in fl:
            t.lines += 1
            if ln.form == "corrupt":
                t.corrupt += 1
                continue
            if ln.form == "dup":
                t.dup += 1
                continue
            t.unique += 1
            t.late += ln.late
            k = ln.tick.kind
            if k == "history":
                t.history += 1
            else:
                t.realtime += 1
                t.close_only += k == "close_only"
                t.scorable += k == "realtime"
    return t


def merge(a: Truth, b: Truth) -> Truth:
    return Truth(**{k: getattr(a, k) + getattr(b, k) for k in a.__dict__})


def render(line: Line, ts_us: int) -> str:
    t = line.tick
    ts = (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ts_us)).isoformat(
        timespec="microseconds"
    )
    if t.kind == "close_only":
        doc = {"timestamp": ts, "symbol": t.symbol, "close_price": t.close}
    else:
        doc = {
            "timestamp": ts,
            "symbol": t.symbol,
            "open": t.open,
            "high": t.high,
            "low": t.low,
            "close": t.close,
            "volume": t.volume,
            "source": t.kind,
        }
    text = json.dumps(doc)
    # a cut before the closing brace is never valid JSON
    return text[: min(line.cut, len(text) - 1)] if line.form == "corrupt" else text


class Clock:
    """Event time of tick ``i``: the due time of the file it was created in
    plus ``step_us`` per tick already created in that file."""

    def __init__(self, t0_us: int, period_us: int, ticks_per_file: int,
                 step_us: int):
        self.t0_us, self.period_us = t0_us, period_us
        self.tpf, self.step_us = ticks_per_file, step_us

    def ts_us(self, i: int) -> int:
        f, k = divmod(i, self.tpf)
        return self.t0_us + f * self.period_us + k * self.step_us


def file_text(lines: list[Line], clock: Clock) -> str:
    return "".join(render(ln, clock.ts_us(ln.tick.i)) + "\n" for ln in lines)


#: Backlog event times: ticks 50 ms apart from 2024-01-02, so a backlog
#: file of 390 ticks spans 19.5 s of event time.
BACKLOG_T0_US = (dt.datetime(2024, 1, 2) - dt.datetime(1970, 1, 1)) // (
    dt.timedelta(microseconds=1)
)
BACKLOG_STEP_US = 50_000


def write_backlog(out: str, files: list[list[Line]], ticks_per_file: int) -> None:
    """All files of a backlog, with increasing modification times so the
    file source lists them in plan order."""
    clock = Clock(BACKLOG_T0_US, ticks_per_file * BACKLOG_STEP_US,
                  ticks_per_file, BACKLOG_STEP_US)
    os.makedirs(out, exist_ok=True)
    mtime = time.time() - len(files) - 10
    for f, lines in enumerate(files):
        path = os.path.join(out, f"ticks-{f:05d}.jsonl")
        with open(path, "w") as fh:
            fh.write(file_text(lines, clock))
        os.utime(path, (mtime + f, mtime + f))


def live_clock(t0: float, period: float, ticks_per_file: int) -> Clock:
    """On-time ticks of file ``f`` carry the time file ``f`` was due."""
    return Clock(int(t0 * 1e6), int(period * 1e6), ticks_per_file, 1)


def feed(seed: int, rate: int, period: float, seconds: float, t0: float,
         out: str, staging: str, manifest: str) -> None:
    """Write file ``f`` at ``t0 + f * period`` whatever the consumer does,
    then record when each file was really written."""
    tpf = max(1, round(rate * period))
    n_files = max(1, round(seconds / period))
    files = plan_feed(seed, n_files, tpf)
    clock = live_clock(t0, period, tpf)
    os.makedirs(out, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    written: list[float] = []
    for f, lines in enumerate(files):
        due = t0 + f * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(staging, f"live-{f:05d}.jsonl")
        with open(tmp, "w") as fh:
            fh.write(file_text(lines, clock))
        os.rename(tmp, os.path.join(out, f"live-{f:05d}.jsonl"))
        written.append(time.time() - due)
    with open(manifest, "w") as fh:
        json.dump({"files": n_files, "ticks_per_file": tpf,
                   "lateness_s": written}, fh)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="live tick feed generator")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--manifest", required=True)
    a = ap.parse_args(argv)
    feed(a.seed, a.rate, a.period, a.seconds, a.t0, a.out, a.staging,
         a.manifest)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
