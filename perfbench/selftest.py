#!/usr/bin/env python3
"""Self-test of the benchmark on the sf0.001 fixture.

    python3 perfbench/selftest.py

Checks that every workload prints every metric of BENCHMARK.json by name
with its unit (end-to-end metrics untraced, per-layer metrics traced) with
no failed operation, and that a corrupted expected fingerprint is counted
as a failure.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def run(workload, trace, *extra):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "3", "--trace", str(trace), "--sf", "sf0.001", *extra],
        stdout=subprocess.PIPE, text=True, timeout=300)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def check_metrics(res, wanted, what):
    got = res["metrics"]
    for m in wanted:
        v = got.get(m["name"])
        assert v is not None, f"{what}: {m['name']} missing"
        assert v["unit"] == m["unit"], f"{what}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{what}: {m['name']} = {v['value']}"
    assert set(got) == {m["name"] for m in wanted}, f"{what}: extra metrics"


def main():
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            what = f"{w} trace={trace}"
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, \
                f"{what}: {res['failed']} of {res['attempted']} failed"
            check_metrics(res, SPEC[key], what)
            print(f"ok  {what}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} operations checked")

    # One wrong expected fingerprint must surface as failed operations.
    expected = json.load(open(os.path.join(ROOT, "perfbench", "expected", "sf0.001.json")))
    rows, h = expected["q05_nation_revenue"].split(":")
    expected["q05_nation_revenue"] = f"{rows}:{int(h, 16) ^ 1:016x}"
    corrupt = os.path.join(OUT, "corrupt-sf0.001.json")
    with open(corrupt, "w") as f:
        json.dump(expected, f)
    res = run("olap", 0, "--expected", corrupt)
    assert res["failed"] >= 1 and not res["correct"], \
        f"corrupted fingerprint not caught: {res['failed']} failed"
    print(f"ok  corrupted fingerprint: {res['failed']} of {res['attempted']} failed")
    print("selftest passed")


if __name__ == "__main__":
    main()
