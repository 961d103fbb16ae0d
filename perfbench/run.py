#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ma_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (into `target/` dirs and
`.bench_build/`); later runs reuse the build while the sources it was
made from are unchanged, and rebuild when they change. Each run generates its
inputs from the seed, launches the harness JVM (perfbench/harness),
measures, checks the outputs, and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
ones (and records spans). See perfbench/README.md for what each
workload and metric is.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gates  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Sizes. The live rate and its headroom come from CALIBRATION.md.
LIVE_SYMBOLS = 2000          # ticks/s offered to the live leg (1 tick/s/symbol)
LIVE_SLOTS = 10              # file drops per second
LIVE_WARMUP_S = 3            # live windows ending before this are not measured
REPLAY_SYMBOLS = 6000        # ticks per backlog file (one file per event-time second)
REPLAY_SECONDS = 32          # event-time seconds in the backlog (192k ticks)
# 48k ticks a trigger, four full triggers; < 25 files, so the planted
# late ticks fall behind the watermark
REPLAY_FILES_PER_TRIGGER = 8
REPLAY_OOO = 0.05            # share of ticks 1-3 s out of order
REPLAY_LATE = 20             # ticks planted far behind the watermark
# the repository's seed-42 testdata at sf0.1 (events, documents,
# embeddings), fixed; the folds in expected_folds.json are taken on it
BATCH_DATA = os.path.join(HERE, "data", "sf0.1")
SETUP_LAUNCHES = 3           # setup_s is the median over this many JVM starts

WORKLOADS = {
    "ma_stream": dict(kind="stream"),
    # per registry family, the queries that run the layers it owns
    "batch_ops": dict(kind="batch", queries={
        # the paper's operator in batch form and its exactly-5 gate
        "MovingAverage": ["w1_sliding_sma", "p5_exact_gate"],
        # PQ training + quantize_grid, IVF/PQ serving + pq_scores, scaled_cos
        "Similarity": ["pq1_product_quantize", "sim6_ivfpq", "cls1_centroid_classify"],
        # MinHash signatures and band_keys
        "Dedup": ["dd2_minhash_lsh"],
        # BPE training, bpe_merge serving
        "TextOps": ["tok3_bpe_train", "tok4_bpe_encode"],
    }),
}

JVM_OPTS = ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads: the program's sources and
    build files and the harness's. A change to any of them rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    for r in roots:
        paths = [r]
        if os.path.isdir(r):
            paths = []
            for d, ds, fs in os.walk(r):
                # skip build outputs: target/ and sbt's project/project/
                ds[:] = sorted(x for x in ds if x != "target" and not (
                    x == "project" and os.path.basename(d) == "project"))
                paths += [os.path.join(d, f) for f in sorted(fs)]
        for path in paths:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read() + b"\0")
    return h.hexdigest()


def build():
    """Compiles program + harness unless the last build of this checkout
    was made from the same sources; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    key = source_hash()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_key, cp = (f.read().split("\n") + [""])[:2]
        if old_key == key and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]))
    log("building program and harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(key + "\n" + lines[-1])
    return lines[-1]


class Jvm:
    """The harness JVM. `spawn_ms` is taken just before launch, so
    `ready_ms - spawn_ms` is the set-up time of one launch."""

    def __init__(self, cp, mode, args, out):
        self.out = out
        # Spark's scratch space and the JVM's temp files stay in the run's
        # work directory
        tmp = os.path.join(os.path.dirname(out), "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spawn_ms = time.time() * 1000
        self.p = subprocess.Popen(
            ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
                                   "perfbench.Harness", mode, "out=" + out]
            + [f"{k}={v}" for k, v in args.items()],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
            env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))

    def wait_line(self, prefix):
        """Blocks until the harness prints a line starting with prefix."""
        for line in self.p.stdout:
            if line.startswith(prefix):
                return float(line.split()[1])
        raise RuntimeError(f"harness exited before {prefix}")

    def finish(self, timeout):
        try:
            self.p.stdin.close()
        except OSError:
            pass
        for _ in self.p.stdout:
            pass
        if self.p.wait(timeout=timeout) != 0:
            raise RuntimeError(f"harness exited with {self.p.returncode}")
        with open(self.out) as f:
            return json.load(f)

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()
            self.p.wait()


def setup_probe(cp, work):
    """One extra JVM start, killed as soon as set-up is done: its
    shutdown is not part of set-up."""
    j = Jvm(cp, "probe", {}, os.path.join(work, "probe.json"))
    try:
        return (j.wait_line("READY") - j.spawn_ms) / 1000
    finally:
        j.kill()


def run_batch(cp, wl, args, work, setups):
    j = Jvm(cp, "batch", {
        "data": BATCH_DATA, "seconds": args.seconds, "trace": args.trace,
        "queries": ",".join(q for qs in wl["queries"].values() for q in qs)},
        os.path.join(work, "batch.json"))
    try:
        r = j.finish(170)
    finally:
        j.kill()
    keep_raw(args, r)
    setups.append((r["ready_ms"] - j.spawn_ms) / 1000)
    return metrics.batch(r, sorted(wl["queries"]), args)


def run_stream(cp, args, work, setups):
    replay_src = os.path.join(work, "replay-src")
    live_src = os.path.join(work, "live-src")
    os.makedirs(live_src)
    late = os.path.join(work, "late.json")
    t = time.time()
    gen.replay_backlog(args.seed, replay_src, late, REPLAY_SYMBOLS,
                       REPLAY_SECONDS, REPLAY_OOO, REPLAY_LATE)
    gen_s = time.time() - t
    jargs = {"replay_src": replay_src, "live_src": live_src, "work": work,
             "max_files": REPLAY_FILES_PER_TRIGGER, "trace": args.trace}
    j = Jvm(cp, "stream", jargs, os.path.join(work, "stream.json"))
    g = None
    report = os.path.join(work, "gen.json")
    try:
        j.wait_line("LIVE")
        # the generator starts on a whole second, like the trigger clock
        start = float(int(time.time()) + 1)
        g = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "live",
             str(args.seed), live_src, str(LIVE_SYMBOLS), str(start),
             str(LIVE_WARMUP_S + args.seconds), str(LIVE_SLOTS), report])
        if g.wait(timeout=LIVE_WARMUP_S + args.seconds + 30) != 0:
            raise RuntimeError("generator failed")
        j.p.stdin.write("STOP\n")
        j.p.stdin.flush()
        r = j.finish(170)
    finally:
        if g is not None and g.poll() is None:
            g.kill()
            g.wait()
        j.kill()
    keep_raw(args, r)
    setups.append((r["ready_ms"] - j.spawn_ms) / 1000)
    with open(report) as f:
        gen_report = json.load(f)
    how = args.perturb if args.perturb in ("drop_window", "alter_sma") else ""
    r["replay"]["gate"], rows = gates.stream_leg(
        replay_src, os.path.join(work, "replay-sink"), late, how)
    r["replay"]["emitted"] = len(rows)
    r["live"]["gate"], rows = gates.stream_leg(
        live_src, os.path.join(work, "live-sink"), None, how)
    r["live"]["window_ends"] = [(w["batch"], gates.micros(w["end"]) / 1000) for w in rows]
    return metrics.stream(r, REPLAY_LATE, gen_s, gen_report, args,
                          1000 * (start + LIVE_WARMUP_S))


def keep_raw(args, r):
    """The harness's raw measurements of the last run of a workload."""
    d = os.path.join(BUILD, "raw")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, args.workload + ".json"), "w") as f:
        json.dump(r, f)


def save_spans(res, args):
    """The traced run's spans, kept in the checkout for inspection."""
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "%s-seed%d.json" % (args.workload, args.seed)), "w") as f:
        json.dump(res.spans, f)


def measure(args):
    """One run of a workload; returns its metrics.Result."""
    # the program's own build and sources must be here
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: no program sources at " + ROOT)
    cp = build()
    wl = WORKLOADS[args.workload]
    work = os.path.join(BUILD, "work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        setups = [setup_probe(cp, work) for _ in range(SETUP_LAUNCHES - 1)]
        if wl["kind"] == "batch":
            res = run_batch(cp, wl, args, work, setups)
        else:
            res = run_stream(cp, args, work, setups)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res.e2e["setup_s"] = statistics.median(setups)
    log("%s seed %d: %.1f s" % (args.workload, args.seed, time.time() - t0))
    if res.failed:
        log("FAILED %d of %d: %s" % (res.failed, res.attempted, json.dumps(res.gate)))
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only: damage the output in one known way (selftest.py)
    ap.add_argument("--perturb", default="",
                    choices=["", "drop_window", "alter_sma", "change_fold"])
    args = ap.parse_args()
    res = measure(args)
    res.record_history(BUILD, args.workload, args.trace)
    if args.trace:
        save_spans(res, args)
    print(res.line(args.trace))


if __name__ == "__main__":
    main()
