#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (about seven minutes on 4 cores).

    python3 perfbench/selftest.py

Run from the repository root. Checks that
  - every workload emits every BENCHMARK.json metric, with its unit, in
    untraced (end_to_end) and traced (per_layer) mode, and passes its
    correctness check;
  - a planted wrong expected value fails the correctness check, both the
    stream check and the DuckDB oracle compare;
  - a planted shared application id trips the honest-cost guard.
Exits 1 on the first failed expectation.
"""
import json
import subprocess
import sys

SF = "0.001"


def run(workload, trace, plant="none"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--sf", SF, "--plant", plant]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, (json.loads(last) if last.startswith("{") else None), p.stderr


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    lists = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            code, res, err = run(w, trace)
            expect(code == 0 and res is not None,
                   f"{w} trace={trace} exits 0 with a result line {err[-300:] if code else ''}")
            want = {m["name"]: m["unit"] for m in lists[trace]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace} emits every named metric with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace} passes its correctness check")
    for w in ("stream_replay", "curation_batch"):
        code, res, _ = run(w, 0, "wrong_expected")
        expect(code == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: a planted wrong expected value fails the correctness check")
    code, res, err = run("curation_batch", 0, "dup_app_id")
    expect(code != 0 and res is None and "honest-cost guard" in err,
           "a planted shared application id trips the honest-cost guard")


if __name__ == "__main__":
    main()
