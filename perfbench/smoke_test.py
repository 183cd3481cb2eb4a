#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes.

Run from the root of a graft checkout:

    python3 perfbench/smoke_test.py

For every workload it checks that a clean run passes its checks and prints
every end-to-end metric of BENCHMARK.json with its unit, and that a run with a
deliberately corrupted expected value counts a failed operation. One traced run
must print every per-layer metric with its unit. Exits 0 when all hold.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, trace=0, corrupt=0):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.02",
           "--corrupt-expected", str(corrupt)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise AssertionError(f"{' '.join(cmd[1:])} exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def check_metrics(res, spec, label):
    got = res["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    assert set(got) == set(want), f"{label}: metrics {sorted(set(got) ^ set(want))} differ"
    for name, unit in want.items():
        v = got[name]
        assert v["unit"] == unit, f"{label}: {name} unit {v['unit']}, expected {unit}"
        assert isinstance(v["value"], (int, float)), f"{label}: {name} value {v['value']}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # point and ingest are not listed in BENCHMARK.json (see README.md) but
    # stay runnable, so they are smoke-tested with the others
    workloads = [w["name"] for w in spec["workloads"]] + ["point", "ingest"]
    failures = []
    for w in workloads:
        for corrupt in (0, 1):
            label = f"{w} corrupt={corrupt}"
            try:
                res = run(w, corrupt=corrupt)
                check_metrics(res, spec["end_to_end"], label)
                assert res["attempted"] >= 1, f"{label}: nothing attempted"
                if corrupt:
                    assert res["failed"] >= 1 and not res["correct"], \
                        f"{label}: corrupted expected value not counted as a failed op"
                else:
                    assert res["failed"] == 0 and res["correct"], f"{label}: {res['failed']} failed"
                print(f"ok   {label}")
            except AssertionError as e:
                failures.append(str(e))
                print(f"FAIL {e}")
    try:
        check_metrics(run(spec["workloads"][0]["name"], trace=1), spec["per_layer"], "traced")
        print("ok   traced")
    except AssertionError as e:
        failures.append(str(e))
        print(f"FAIL {e}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
