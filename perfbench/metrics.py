"""Turns the harness's raw measurements into the benchmark's metrics.

Names, units and which set a metric belongs to come from BENCHMARK.json.
Every run prints every metric of its set: a per-layer metric of a layer
the workload does not exercise reads 0.
"""
import json
import os
import statistics

import gates

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FOLDS = os.path.join(HERE, "expected_folds.json")
# a late tick falls in 5 sliding windows (5 s / 1 s); the stateful
# operator counts each dropped (window, symbol) row
WINDOWS_PER_TICK = 5
# the headline e2e metric a traced run compares itself on
HEADLINE = {"ma_stream": "latency_p50_ms", "batch_ops": "warm_s"}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pct(xs, q):
    """The q-th percentile (0-100), linear between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def slope(pts):
    if len(pts) < 2:
        return 0.0
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    return sum((x - mx) * (y - my) for x, y in pts) / sxx if sxx else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def med(xs):
    return statistics.median(xs) if xs else 0.0


class Result:
    def __init__(self, attempted, failed, gate):
        self.gate = gate  # what the gates found, for the log
        self.attempted = attempted
        self.failed = failed
        self.e2e = {}
        self.layer = {}
        self.spans = []

    def record_history(self, build_dir, workload, trace):
        """Untraced runs leave their e2e figures in the checkout, so a
        traced run can report its cost against them."""
        d = os.path.join(build_dir, "history")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, workload + ".jsonl")
        if not trace:
            with open(path, "a") as f:
                f.write(json.dumps(self.e2e) + "\n")
            return
        head = HEADLINE[workload]
        past = []
        if os.path.exists(path):
            with open(path) as f:
                past = [json.loads(line)[head] for line in f if line.strip()]
        base = med(past)
        self.layer["trace.vs_untraced_pct"] = (
            100 * (self.e2e[head] - base) / base if base else 0.0)
        self.layer["trace.untraced_runs"] = len(past)

    def line(self, trace):
        s = spec()
        chosen = s["per_layer"] if trace else s["end_to_end"]
        src = self.layer if trace else self.e2e
        out = {}
        for m in chosen:
            if not trace and m["name"] not in src:
                raise KeyError("metric not measured: " + m["name"])
            out[m["name"]] = {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
        return json.dumps({"correct": self.failed == 0, "attempted": self.attempted,
                           "failed": self.failed, "metrics": out})


# ---------------------------------------------------------------- batch

def batch(r, families, args):
    rows = r["queries"]
    names = sorted({q["name"] for q in rows})
    with open(FOLDS) as f:
        expected = json.load(f)
    bad = gates.fold_failures(rows, expected, args.perturb)
    res = Result(len(names), len(bad), {"failed_queries": bad})
    cold = [q for q in rows if q["phase"] == "cold"]
    warm = [q for q in rows if q["phase"] == "warm"]
    rounds = r["rounds"]

    def warm_med(name, key):
        return med([q[key] for q in warm if q["name"] == name])

    per_query = {n: warm_med(n, "run_s") for n in names}
    e = res.e2e
    e["cold_s"] = sum(q["run_s"] for q in cold)
    e["warm_s"] = sum(per_query.values())
    e["latency_p50_ms"] = 1000 * pct(per_query.values(), 50)
    e["latency_p90_ms"] = 1000 * pct(per_query.values(), 90)
    ph = dict(r["phases"])
    e["ops_per_s"] = len(warm) / ph["warm"]["wall_s"]

    L = res.layer
    fam_of = {q["name"]: q["family"] for q in rows}
    for fam in families:
        mine = [n for n in names if fam_of[n] == fam]
        L[fam + ".construct_s"] = sum(q["construct_s"] for q in cold if q["name"] in mine)
        L[fam + ".run_s.warm"] = sum(per_query[n] for n in mine)
        L[fam + ".cpu_s.warm"] = sum(warm_med(n, "cpu_s") for n in mine)
    for phase, qs, div in (("cold", cold, 1), ("warm", warm, rounds)):
        t = dict(ph[phase])
        run_s = sum(q["run_s"] for q in qs) / div
        busy = t["run_ms"] / 1000 / div
        job_s = t["job_union_ms"] / 1000 / div
        L["spark.plan_ms." + phase] = sum(q["plan_ms"] for q in qs) / div
        L["spark.codegen.compile_ms." + phase] = t["compile_ms"] / div
        L["spark.codegen.max_method_bytes." + phase] = t["max_method_bytes"]
        for k in ("jobs", "stages", "tasks", "task_failures"):
            L["spark.%s.%s" % (k, phase)] = t[k] / div
        L["spark.busy_core_s." + phase] = busy
        L["spark.cpu_s." + phase] = t["cpu_ns"] / 1e9 / div
        L["spark.gc_s." + phase] = t["gc_ms"] / 1000 / div
        L["spark.idle_core_s." + phase] = r["cores"] * job_s - busy
        L["spark.driver_s." + phase] = run_s - job_s
        L["Tables.scan_bytes." + phase] = t["scan_bytes"] / div
        L["spark.shuffle_write_bytes." + phase] = t["shuffle_write"] / div
        L["spark.spill_bytes." + phase] = t["spill"] / div
    wall_ms = 1000 * (ph["cold"]["wall_s"] + ph["warm"]["wall_s"])
    trace_layers(res, r, None, wall_ms)
    return res


# --------------------------------------------------------------- stream

def leg_view(leg):
    """Progress rows in batch order, the data-bearing ones, and the
    leg's gate failures."""
    prog = sorted(leg["progress"], key=lambda p: p["batch"])
    data = [p for p in prog if p["rows"] > 0]
    g = leg["gate"]
    failed = g["missing"] + g["extra"] + g["wrong"] + g["duplicates"]
    return prog, data, failed


def stream(r, planted, gen_s, gen_report, args, live_from_ms):
    """ma_stream: the replay leg gives the per-row view (drain rate,
    cold first trigger, per-tick stage costs), the live leg the
    fixed-cost view (emit latency, trigger phases, sink write)."""
    rp, ld = r["replay"], r["live"]
    r_prog, r_data, r_failed = leg_view(rp)
    l_prog, l_data, l_failed = leg_view(ld)
    dropped = sum(p["late_dropped"] for p in r_prog)
    late_ok = dropped == planted * WINDOWS_PER_TICK
    res = Result(rp["gate"]["expected"] + ld["gate"]["expected"],
                 r_failed + l_failed + (0 if late_ok else 1),
                 {"replay": rp["gate"], "live": ld["gate"], "late_dropped": dropped,
                  "late_expected": planted * WINDOWS_PER_TICK})
    r_ticks = sum(p["rows"] for p in r_prog)
    l_ticks = sum(p["rows"] for p in l_prog)
    returns = {s["batch"]: s["t1_ms"] for s in ld["sink"]}

    e = res.e2e
    # replay: time to drain the backlog from a cold start (the first
    # trigger pays planning, codegen and state-store start); the drain
    # rate is taken over the full triggers after the first two (the
    # second still runs 20-40% slower while the JIT warms up, and varies
    # most; the last trigger takes only the few ticks shifted past the
    # final second)
    full = max(p["rows"] for p in r_data) / 2
    steady = [p for p in r_data[2:] if p["rows"] >= full]
    e["cold_s"] = (rp["drained_ms"] - rp["started_ms"]) / 1000
    e["ops_per_s"] = sum(p["rows"] for p in steady) / (
        sum(p["durations"]["triggerExecution"] for p in steady) / 1000)
    # live: due time of a window's last tick (its end) to the return of
    # the sink write that emitted it
    lat = [returns[b] - end for b, end in ld["window_ends"] if end >= live_from_ms]
    e["latency_p50_ms"] = pct(lat, 50)
    e["latency_p90_ms"] = pct(lat, 90)
    live_meas = [p for p in l_data if p["start_ms"] >= live_from_ms]
    e["warm_s"] = med([p["durations"]["triggerExecution"] for p in live_meas]) / 1000

    L = res.layer
    P = "MaPipeline."
    # fixed cost per trigger: the live leg after warm-up. Spark reports
    # phases in whole milliseconds, so these are means, not medians
    ld_dur = [p["durations"] for p in live_meas]
    for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit",
              "commitOffsets", "addBatch"):
        L[P + "trigger.%s_ms.mean" % k] = mean([d[k] for d in ld_dur])
    L[P + "trigger.total_ms.mean"] = mean([d["triggerExecution"] for d in ld_dur])
    L[P + "trigger.count"] = len(live_meas)
    L[P + "trigger.ticks.p50"] = med([p["rows"] for p in live_meas])
    L[P + "state.commit_ms.mean"] = mean([p["state_commit_ms"] for p in live_meas])
    L["Schemas.sink.write_ms.p50"] = med(
        [s["t1_ms"] - s["t0_ms"] for s in ld["sink"] if s["t0_ms"] >= live_from_ms])
    # per-row cost: the replay leg
    t = rp["tally"]
    kt = max(r_ticks, 1) / 1000
    L[P + "replay.addBatch_ms.mean"] = mean([p["durations"]["addBatch"] for p in steady])
    L[P + "replay.ticks_per_trigger.p50"] = med([p["rows"] for p in r_data])
    L[P + "parse_stage.cpu_ms_per_ktick"] = t["parse_cpu_ns"] / 1e6 / kt
    L[P + "state_stage.cpu_ms_per_ktick"] = t["state_cpu_ns"] / 1e6 / kt
    L[P + "shuffle.bytes_per_tick"] = t["shuffle_write"] / max(r_ticks, 1)
    L[P + "gc_ms_per_ktick"] = t["gc_ms"] / kt
    L[P + "state.update_ms.mean"] = mean([p["state_update_ms"] for p in steady])
    L[P + "state.rows_updated_per_ktick"] = sum(p["state_updated"] for p in r_prog) / kt
    L[P + "state.rows_removed_per_ktick"] = sum(p["state_removed"] for p in r_prog) / kt
    L[P + "state.rows_total.end"] = r_prog[-1]["state_total"]
    L[P + "state.mem_bytes.end"] = r_prog[-1]["state_mem"]
    L[P + "state.late_dropped"] = dropped
    L[P + "state.late_expected"] = planted * WINDOWS_PER_TICK
    L[P + "windows_per_ktick"] = rp["emitted"] / kt
    # the live source: ticks offered but not yet taken at each trigger
    drops = gen_report["drops"]
    backlog, done, i = [], 0, 0
    for p in l_prog:
        while i < len(drops) and drops[i][1] <= p["start_ms"]:
            i += 1
        backlog.append((drops[i - 1][2] if i else 0) - done)
        done += p["rows"]
    L[P + "source.backlog_ticks.max"] = max(backlog, default=0)
    # least-squares slope of the backlog over the measured triggers: ~0
    # when the offered rate is sustained, > 0 when the queue grows
    pts = [(p["start_ms"] / 1000, b) for p, b in zip(l_prog, backlog)
           if p["start_ms"] >= live_from_ms]
    L[P + "source.backlog_slope_ticks_per_s"] = slope(pts)
    L[P + "live.ticks"] = l_ticks
    L["gen.late_ms.max"] = max(gen_report["late_ms"])
    L["gen.s"] = gen_s
    extra = [{"name": "gen.drop", "op": "gen", "start_ms": s, "end_ms": t}
             for s, t, _ in drops]
    wall = (rp["drained_ms"] - rp["started_ms"]) + (ld["drained_ms"] - ld["started_ms"])
    trace_layers(res, r, extra, wall)
    return res


# ---------------------------------------------------------------- trace

SELF_LAYERS = ["query", "construct", "consume", "spark.job", "trigger",
               "trigger.phase", "sink.write", "gen.drop"]
# nesting order of the layers: a span's parent is the innermost span of a
# lower rank that contains it in time. Jobs come from the listener thread
# and the generator's drops from another process, so containment alone
# would also pair spans that merely overlap.
RANK = {"query": 0, "trigger": 0, "construct": 1, "consume": 1,
        "trigger.phase": 1, "sink.write": 2, "spark.job": 3}


def layer_of(name):
    return "trigger.phase" if name.startswith("trigger.") else name


def covered(iv):
    """Total length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(iv):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it
    that its child spans cover."""
    spans = sorted(spans, key=lambda s: (s["start_ms"], -s["end_ms"]))
    children = {}
    stack = []
    for i, s in enumerate(spans):
        layer = layer_of(s["name"])
        if layer not in RANK:
            continue
        stack = [j for j in stack if spans[j]["end_ms"] > s["start_ms"]]
        for j in reversed(stack):
            p = spans[j]
            if RANK[layer_of(p["name"])] < RANK[layer] and p["end_ms"] >= s["end_ms"]:
                children.setdefault(j, []).append((s["start_ms"], s["end_ms"]))
                break
        stack.append(i)
    out = {}
    for i, s in enumerate(spans):
        dur = s["end_ms"] - s["start_ms"]
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + dur - covered(children.get(i, []))
    return out


def trace_layers(res, r, extra, wall_ms):
    spans = [dict(s) for s in r.get("spans", [])] + (extra or [])
    res.spans = spans
    L = res.layer
    L["jvm.rss_peak_mb"] = r["rss_peak_kb"] / 1024
    L["trace.spans"] = len(spans)
    L["trace.overhead_pct"] = 100 * r["trace_cost_ms"] / max(wall_ms, 1)
    st = self_times(spans)
    for layer in SELF_LAYERS:
        L["trace.self_s." + layer.replace(".", "_")] = st.get(layer, 0.0) / 1000
