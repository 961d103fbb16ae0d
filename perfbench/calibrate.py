#!/usr/bin/env python3
"""One-off calibration of `ma_stream` (not part of the repeated runs; its
output is recorded in CALIBRATION.md).

    python3 perfbench/calibrate.py [RATE ...]   # live leg: offered rates
    python3 perfbench/calibrate.py --baseline   # replay: local[nproc] vs local[1]

The first form runs `ma_stream` once per offered rate (ticks/s =
symbols, 1 tick/s each) and prints, per rate, the live emit latency
p50/p90, the largest source backlog and its slope over the measured
triggers. The second runs it three times with all processors and three
times with the JVM limited to one (`local[1]`), alternating, and prints
the replay drain rate of each run.
"""
import argparse
import sys

import run


def once(seed, seconds):
    res = run.measure(argparse.Namespace(workload="ma_stream", seed=seed,
                                         seconds=seconds, trace=0, perturb=""))
    assert res.failed == 0, "outputs failed the gates"
    return res


def rates(offered):
    print("| offered ticks/s | p50 ms | p90 ms | backlog max (ticks) "
          "| backlog slope (ticks/s) | generator late max ms |")
    print("| --- | --- | --- | --- | --- | --- |")
    for rate in offered:
        run.LIVE_SYMBOLS = rate
        res = once(1, 10)
        L = res.layer
        print("| %d | %.0f | %.0f | %.0f | %.0f | %.1f |" % (
            rate, res.e2e["latency_p50_ms"], res.e2e["latency_p90_ms"],
            L["MaPipeline.source.backlog_ticks.max"],
            L["MaPipeline.source.backlog_slope_ticks_per_s"], L["gen.late_ms.max"]),
            flush=True)


def baseline():
    opts = list(run.JVM_OPTS)
    print("| run | processors | replay drain ticks/s | replay from cold s |")
    print("| --- | --- | --- | --- |")
    for seed in (1, 2, 3):
        for procs in ("all", "1"):
            run.JVM_OPTS[:] = opts + (["-XX:ActiveProcessorCount=1"] if procs == "1" else [])
            res = once(seed, 3)
            print("| seed %d | %s | %.0f | %.1f |" % (
                seed, procs, res.e2e["ops_per_s"], res.e2e["cold_s"]), flush=True)
    run.JVM_OPTS[:] = opts


if __name__ == "__main__":
    if sys.argv[1:] == ["--baseline"]:
        baseline()
    else:
        rates([int(r) for r in sys.argv[1:]] or [1000, 2000, 4000, 8000, 16000])
