"""Seeded input generators for the benchmark.

Every tick the streaming workload reads is made here from a seed; the
same seed gives byte-identical inputs. (The batch workload reads fixed
tables, perfbench/data.)

- `Symbols`: per-second ticks in the reference's `StockData` wire shape.
- `replay_backlog`: a staged backlog of tick files for the replay leg, with
  a seeded share of out-of-order ticks inside the 5 s watermark and a
  few planted ticks far behind it.
- `live_generator`: the open-loop tick producer for the live leg, run as
  its own process (`python3 gen.py live ...`).
"""
import datetime as dt
import json
import os
import sys
import time

import numpy as np

TICK = ('{"symbol":"%s","type":"%s","start":"%s","end":"%s",'
        '"current_time":"%s","last_data_time":"%s","real_data_count":%d,'
        '"filled_data_count":%d,"real_or_filled":"%s",'
        '"vwap_price_per_sec":%.4f,"size_per_sec":%d,"volume_till_now":%.1f,'
        '"yesterday_price":%.4f,"price_change_percentage":%.4f}')


def iso(t):
    """Epoch seconds -> ISO-8601 UTC with microseconds, the wire format."""
    s = int(t // 1)
    us = int(round((t - s) * 1e6))
    if us == 1000000:
        s, us = s + 1, 0
    d = dt.datetime.fromtimestamp(s, dt.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S") + (".%06d+00:00" % us)


class Symbols:
    """Per-symbol state of the tick stream: type, price walk, sub-second
    phase. Every symbol ticks once a second, at `second + phase[i]`."""

    def __init__(self, seed, n):
        self.rng = np.random.default_rng(seed)
        self.n = n
        self.names = ["S%05d" % i for i in range(n)]
        self.types = ["stock" if i % 4 else "etf" for i in range(n)]
        self.phase = np.sort(np.round(self.rng.random(n), 6))
        self.price = self.rng.uniform(10, 500, n)
        self.yesterday = self.price.copy()
        self.volume = np.zeros(n)

    def second(self, base):
        """The ticks of every symbol for the second starting at epoch
        second `base`, as (event times, JSON lines), in phase order."""
        n, rng = self.n, self.rng
        self.price *= 1 + rng.normal(0, 0.001, n)
        size = np.where(rng.random(n) < 0.1, 0, rng.integers(1, 500, n))
        self.volume += size
        change = 100 * (self.price / self.yesterday - 1)
        ts = base + self.phase
        prev = iso(base - 1 + 0.0)
        lines = []
        for i in range(n):
            now = iso(ts[i])
            real = size[i] > 0
            lines.append(TICK % (
                self.names[i], self.types[i], prev, now, now, now,
                1 if real else 0, 0 if real else 1,
                "real" if real else "filled", self.price[i], size[i],
                self.volume[i], self.yesterday[i], change[i]))
        return ts, lines


def drop_file(dir_, name, lines):
    """Write a file beside the watched dir, then rename it in: the file
    source never sees a partial file (names starting with `.` are
    ignored by Spark's file listing)."""
    tmp = os.path.join(dir_, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(dir_, name))


def replay_backlog(seed, src_dir, late_file, symbols, seconds, ooo_frac,
                   n_late, base=1_700_000_000):
    """One file per event-time second. A share `ooo_frac` of ticks moves
    1-3 files later (inside the 5 s watermark, so they still count);
    `n_late` ticks are planted 30 s behind the file they sit in, far
    beyond the watermark (when a trigger takes fewer than 25 files),
    each on its own symbol so no two share a window. Had they been
    counted, their windows would hold six ticks. The planted ticks are listed in `late_file` (JSON lines of
    symbol and current_time). Returns the number of ticks written."""
    os.makedirs(src_dir, exist_ok=True)
    sy = Symbols(seed, symbols)
    rng = np.random.default_rng(seed + 1)
    files = [[] for _ in range(seconds + 3)]
    for s in range(seconds):
        _, lines = sy.second(base + s)
        shift = np.where(rng.random(symbols) < ooo_frac,
                         rng.integers(1, 4, symbols), 0)
        for line, k in zip(lines, shift + s):
            files[k].append(line)
    late = []
    for i, k in zip(rng.choice(symbols, n_late, replace=False),
                    rng.integers(seconds // 2, seconds, n_late)):
        t = base + int(k) - 30 + 0.5
        now = iso(t)
        files[k].append(TICK % (
            sy.names[i], sy.types[i], iso(t - 1), now, now, now, 1, 0,
            "real", sy.price[i], 1, 0.0, sy.yesterday[i], 0.0))
        late.append(json.dumps({"symbol": sy.names[i], "current_time": now}))
    with open(late_file, "w") as f:
        f.write("\n".join(late) + "\n")
    n = 0
    for k, lines in enumerate(files):
        if lines:
            drop_file(src_dir, "ticks-%06d.json" % k, lines)
            n += len(lines)
    return n


def live_generator(seed, src_dir, symbols, start, seconds, slots_per_s,
                   report):
    """Open loop: from wall time `start` (a whole second), each slot of
    1/slots_per_s s drops the ticks whose due time falls in it, at the
    slot's end. It never waits for the consumer. At the end it writes a
    JSON report: ticks offered, each drop's start and end time and the
    cumulative tick count after it, and how late each drop trailed its
    slot end."""
    sy = Symbols(seed, symbols)
    slot = 1.0 / slots_per_s
    drops, late_ms = [], []
    n = 0
    for sec in range(seconds):
        ts, lines = sy.second(start + sec)
        for k in range(slots_per_s):
            due = start + sec + (k + 1) * slot
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            i0, i1 = np.searchsorted(sy.phase, [k * slot, (k + 1) * slot])
            t0 = time.time()
            if i1 > i0:
                drop_file(src_dir, "ticks-%05d-%03d.json" % (sec, k),
                          lines[i0:i1])
                n += int(i1 - i0)
            now = time.time()
            drops.append((t0 * 1000, now * 1000, n))
            late_ms.append(max(0.0, (now - due) * 1000))
    with open(report, "w") as f:
        json.dump({"ticks": n, "drops": drops, "late_ms": late_ms}, f)


if __name__ == "__main__":
    if sys.argv[1] == "live":
        seed, src, symbols, start, seconds, slots, report = sys.argv[2:9]
        live_generator(int(seed), src, int(symbols), float(start),
                       int(seconds), int(slots), report)
    else:
        sys.exit("usage: gen.py live SEED SRC SYMBOLS START SECONDS SLOTS REPORT")
