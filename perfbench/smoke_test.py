#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke_test.py [workload ...]

For every workload of BENCHMARK.json (or the ones named) it runs the
benchmark with --smoke three times: untraced, traced, and untraced with
--plant-wrong. The first two must pass every answer check and print exactly
the end-to-end and per-layer metrics BENCHMARK.json names; the third plants
one wrong expected answer and must fail with a non-zero exit. Exits 1 on any
failure.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, trace, *extra):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=900)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    # what went wrong, for a failing run: its failure lines or its error
    why = [l for l in lines if '"line":"failure"' in l][:3] or res.stderr.splitlines()[-3:]
    return res.returncode, result, why


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    problems = []

    def expect(cond, what, why=()):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)
            for line in why:
                print("     " + line[:300], flush=True)

    for w in workloads:
        for trace, names in ((0, e2e), (1, layer)):
            rc, res, why = run(w, trace)
            expect(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
                   f"{w} trace={trace}: every answer checked correct", why)
            if res is not None:
                expect(set(res["metrics"]) == names, f"{w} trace={trace}: metric names match BENCHMARK.json")
                if trace == 0:
                    expect(all(v["value"] > 0 for v in res["metrics"].values()),
                           f"{w}: every end-to-end metric is positive")
        rc, res, why = run(w, 0, "--plant-wrong")
        expect(rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: a planted wrong answer fails the run", why)
    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
