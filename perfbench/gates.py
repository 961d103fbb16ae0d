"""Correctness gates. A run counts an operation as failed when a gate
says so, and prints `"correct": false` if any did.

- Streaming: the windows the job emitted must be exactly the windows of
  the reference job over the same ticks (`expected_windows`, an
  independent implementation of the exactly-5 sliding 5 s / 1 s moving
  average of `ma_agg.py`, the semantics `MaPipeline.windowedSma`
  documents). `current_time` is wall clock and is left out.
- Batch: every run of a query must give the fold recorded in
  expected_folds.json.
"""
import datetime as dt
import glob
import json
import os

US = 1_000_000
KEY = ("symbol", "type", "MA_type", "start", "end")
EXACT = ("count_of_vwap", "window_data_count", "real_data_count",
         "filled_data_count")
CLOSE = ("sma_value", "sum_of_vwap")


def micros(iso):
    d = dt.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return (int(d.timestamp()) * US) + d.microsecond


_BASE = {}


def iso_micro(us):
    """MaPipeline's output format: whole seconds without a fraction,
    otherwise six fraction digits; UTC as `Z`."""
    s, f = divmod(us, US)
    base = _BASE.get(s)
    if base is None:
        base = _BASE[s] = dt.datetime.fromtimestamp(s, dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S")
    return base + ("Z" if f == 0 else ".%06dZ" % f)


def read_lines(paths):
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def expected_windows(ticks, size=5, gate=5):
    """Windows [k, k + size) s at 1 s steps, per (symbol, type); a window
    is emitted once it holds exactly `gate` ticks."""
    acc = {}
    for t in ticks:
        ts = micros(t["current_time"])
        sec = ts // US
        vwap = t["vwap_price_per_sec"] if t["size_per_sec"] != 0 else None
        real = t["real_or_filled"] == "real"
        for k in range(sec - size + 1, sec + 1):
            w = acc.get((t["symbol"], t["type"], k))
            if w is None:
                # count, min ts, max ts, sum of vwap, vwap count, real count
                acc[(t["symbol"], t["type"], k)] = [1, ts, ts, vwap or 0.0,
                                                    vwap is not None, real]
            else:
                w[0] += 1
                w[1] = min(w[1], ts)
                w[2] = max(w[2], ts)
                if vwap is not None:
                    w[3] += vwap
                    w[4] += 1
                w[5] += real
    out = {}
    for (sym, typ, _), (n, lo, hi, total, nv, real) in acc.items():
        if n != gate:
            continue
        row = {"symbol": sym, "type": typ, "MA_type": "5_MA_data",
               "start": iso_micro(lo), "end": iso_micro(hi),
               "sum_of_vwap": total, "count_of_vwap": int(nv),
               "window_data_count": n, "real_data_count": int(real),
               "filled_data_count": n - int(real),
               "sma_value": total / nv if nv else 0.0}
        out[tuple(row[k] for k in KEY)] = row
    return out


def close(a, b):
    return abs(a - b) <= max(abs(a), abs(b), 1.0) * 1e-9


def window_diff(expected, emitted):
    """Counts expected windows missing from `emitted`, emitted rows with no
    expected window, emitted rows repeating a window, and matched windows
    whose values differ (doubles within 1e-9 relative: the streaming sum
    merges partial aggregates in another order)."""
    seen = {}
    extra = dup = wrong = 0
    for row in emitted:
        k = tuple(row[c] for c in KEY)
        want = expected.get(k)
        if want is None:
            extra += 1
        elif k in seen:
            dup += 1
        else:
            seen[k] = True
            if any(row[c] != want[c] for c in EXACT) or \
                    any(not close(row[c], want[c]) for c in CLOSE):
                wrong += 1
    return {"expected": len(expected), "missing": len(expected) - len(seen),
            "extra": extra, "wrong": wrong, "duplicates": dup}


def perturb(rows, how):
    """Self-test hooks: damage the emitted output in one known way."""
    if not how:
        return rows
    rows = sorted(rows, key=lambda r: tuple(r[c] for c in KEY))
    if how == "drop_window":
        return rows[1:]
    if how == "alter_sma":
        rows[0] = dict(rows[0], sma_value=rows[0]["sma_value"] + 1.0)
    return rows


def sink_rows(sink_dir):
    """Rows of a foreachBatch sink laid out as <sink>/batch=<id>/part-*,
    each tagged with its batch id."""
    for d in sorted(glob.glob(os.path.join(sink_dir, "batch=*"))):
        b = int(d.rsplit("=", 1)[1])
        for row in read_lines(sorted(glob.glob(os.path.join(d, "part-*")))):
            row["batch"] = b
            yield row


def stream_leg(src_dir, sink_dir, late_file=None, how=""):
    """Gate one streaming leg; returns (gate counts, emitted rows)."""
    late = set()
    if late_file:
        late = {(t["symbol"], t["current_time"]) for t in read_lines([late_file])}
    ticks = [t for t in read_lines(sorted(glob.glob(os.path.join(src_dir, "ticks-*"))))
             if (t["symbol"], t["current_time"]) not in late]
    rows = list(sink_rows(sink_dir))
    return window_diff(expected_windows(ticks), perturb(rows, how)), rows


def fold_failures(rows, expected, how=""):
    """Per query: it must not throw, and every run's fold (cold and each
    warm round) must equal the fold recorded in expected_folds.json; a
    query with no recorded fold fails. Returns the sorted failed query
    names."""
    by_name = {}
    for r in rows:
        by_name.setdefault(r["name"], []).append(r)
    if how == "change_fold":
        victim = sorted(by_name)[0]
        expected = dict(expected, **{victim: "perturbed"})
    bad = []
    for name, rs in sorted(by_name.items()):
        folds = {r["fold"] for r in rs}
        want = expected.get(name)
        if any(r["error"] for r in rs) or folds != {want}:
            bad.append(name)
    return bad
