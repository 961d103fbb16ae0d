#!/usr/bin/env python3
"""Shows that each correctness gate can fail.

    python3 perfbench/selftest.py          # gate functions only (seconds)
    python3 perfbench/selftest.py --runs   # also whole perturbed runs (minutes)

The gate functions are fed outputs damaged in one known way: one
dropped window, one altered `sma_value`, one changed query fold; each
must be reported as one failed operation. With `--runs`, run.py is
started with `--perturb` on each workload and must print
`"correct": false` with the failure counted.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gates  # noqa: E402
import gen  # noqa: E402


def check(name, cond):
    print(("ok   " if cond else "FAIL ") + name)
    return cond


def gate_functions():
    ok = True
    d = os.path.join(os.path.dirname(HERE), ".bench_build", "selftest")
    shutil.rmtree(d, ignore_errors=True)
    src = os.path.join(d, "src")
    late = os.path.join(d, "late.json")
    gen.replay_backlog(7, src, late, 20, 60, 0.05, 2)
    ticks = list(gates.read_lines(sorted(
        os.path.join(src, f) for f in os.listdir(src))))
    planted = {(t["symbol"], t["current_time"]) for t in gates.read_lines([late])}
    shutil.rmtree(d)
    clean = [t for t in ticks if (t["symbol"], t["current_time"]) not in planted]
    expected = gates.expected_windows(clean)
    # a perfect output: the expected rows themselves
    out = [dict(r, current_time="now") for r in expected.values()]
    ok &= check("exact output passes", gates.window_diff(expected, out) == {
        "expected": len(expected), "missing": 0, "extra": 0, "wrong": 0, "duplicates": 0})
    g = gates.window_diff(expected, gates.perturb(out, "drop_window"))
    ok &= check("dropped window is missing", g["missing"] == 1 and g["wrong"] == 0)
    g = gates.window_diff(expected, gates.perturb(out, "alter_sma"))
    ok &= check("altered sma_value is wrong", g["wrong"] == 1 and g["missing"] == 0)
    g = gates.window_diff(expected, out + out[:1])
    ok &= check("repeated window is a duplicate", g["duplicates"] == 1)
    # late ticks left in: their windows get a sixth tick
    g = gates.window_diff(expected, list(gates.expected_windows(ticks).values()))
    ok &= check("unfiltered late ticks are caught", g["missing"] + g["extra"] + g["wrong"] > 0)
    rows = [{"name": "q1", "fold": "1", "error": ""}, {"name": "q1", "fold": "1", "error": ""},
            {"name": "q2", "fold": "2", "error": ""}]
    want = {"q1": "1", "q2": "2"}
    ok &= check("recorded folds pass", gates.fold_failures(rows, want) == [])
    ok &= check("changed fold fails", gates.fold_failures(rows, want, "change_fold") == ["q1"])
    ok &= check("unstable fold fails", gates.fold_failures(
        rows + [{"name": "q2", "fold": "3", "error": ""}], want) == ["q2"])
    ok &= check("query without a recorded fold fails", gates.fold_failures(
        rows, {"q1": "1"}) == ["q2"])
    ok &= check("query error fails", gates.fold_failures(
        rows + [{"name": "q2", "fold": "2", "error": "boom"}], want) == ["q2"])
    return ok


def perturbed_runs():
    ok = True
    for workload, how in (("ma_stream", "drop_window"), ("ma_stream", "alter_sma"),
                          ("batch_ops", "change_fold")):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "3", "--trace", "0", "--perturb", how],
            cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True)
        r = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else {}
        ok &= check("%s --perturb %s reports a failed op" % (workload, how),
                    r.get("correct") is False and r.get("failed", 0) >= 1)
    return ok


if __name__ == "__main__":
    ok = gate_functions()
    if "--runs" in sys.argv:
        ok &= perturbed_runs()
    sys.exit(0 if ok else 1)
