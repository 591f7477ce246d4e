#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke.py

For every workload, an untraced and a traced --smoke run must pass their
correctness checks and print exactly the end-to-end (or per-layer) metrics
named in BENCHMARK.json, each with its unit. Then the runs are repeated
against deliberately wrong committed expectations, and each must exit
non-zero with "correct": false. Exits non-zero on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = "1"


def run(workload, trace, expected=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", SEED, "--seconds", "1", "--trace", str(trace), "--smoke"]
    if expected:
        cmd += ["--expected", expected]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stdout, p.stderr


def check(cond, msg):
    if not cond:
        print(f"FAIL {msg}")
        sys.exit(1)
    print(f"ok   {msg}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    sys.path.insert(0, HERE)
    import run as runner
    for w in runner.WORKLOADS:
        for trace in (0, 1):
            rc, res, out, err = run(w, trace)
            check(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
                  f"{w} trace={trace} passes its checks (exit {rc}){'' if rc == 0 else err[-2000:]}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == wanted[trace], f"{w} trace={trace} prints every declared metric with its unit")
            for name, unit in wanted[trace].items():
                check(any(l.startswith("metric ") and l.split()[1] == name and l.split()[-1] == unit
                          for l in out.splitlines()), f"{w} trace={trace} prints '{name}' in {unit}")

    # a failed correctness check must fail the run
    bad = tempfile.mkdtemp(prefix="perfbench-smoke-", dir=os.path.join(HERE, "out"))
    try:
        src = os.path.join(HERE, "expected")
        with open(os.path.join(src, "query-suite.json")) as fh:
            fps = json.load(fh)
        q = sorted(fps["smoke"])[0]
        fps["smoke"][q] = "1:0"
        with open(os.path.join(bad, "query-suite.json"), "w") as fh:
            json.dump(fps, fh)
        with open(os.path.join(src, "curation-stream.json")) as fh:
            pins = json.load(fh)
        for key in [k for k in pins if k.startswith(SEED + ":")]:
            pins[key]["drop_lm"] = str(int(pins[key]["drop_lm"]) + 1)
        with open(os.path.join(bad, "curation-stream.json"), "w") as fh:
            json.dump(pins, fh)
        for w in ("query-suite", "curation-stream"):
            rc, res, _, _ = run(w, 0, expected=bad)
            check(rc != 0 and res is not None and not res["correct"] and res["failed"] > 0,
                  f"{w} exits non-zero on a wrong committed value (exit {rc})")
    finally:
        shutil.rmtree(bad, ignore_errors=True)


if __name__ == "__main__":
    main()
