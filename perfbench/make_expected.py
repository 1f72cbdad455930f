#!/usr/bin/env python3
"""Produce perfbench/expected/<sf>.json, the result fingerprints the OLAP
workloads check every operation against.

    python3 perfbench/make_expected.py sf0.1

Runs every OLAP entry (q*, d*, g*, c*, s*) once, dumps each result as
parquet, and confirms it against the DuckDB oracle with tools/check.py
(unchanged, read-only). Fingerprints are written only when every entry
passes: an exact oracle match, or a non-empty result for the entries that
have no oracle.
"""
import json
import os
import shutil
import subprocess
import sys

sf = sys.argv[1] if len(sys.argv) > 1 else "sf0.1"
root = os.getcwd()
dump = os.path.join(root, ".bench_build", "perfbench", f"expected-{sf}")
data = os.path.join(root, "perfbench", "data", sf)
shutil.rmtree(dump, ignore_errors=True)
subprocess.run([sys.executable, "perfbench/run.py", "--workload", "fingerprint",
                "--sf", sf, "--fingerprint-out", dump], check=True)
fps = json.load(open(os.path.join(dump, "fingerprints.json")))
check = subprocess.run([sys.executable, "tools/check.py", data, dump],
                       stdout=subprocess.PIPE, text=True, check=True).stdout
status = {}
for line in check.splitlines():
    parts = line.split(None, 1)
    if len(parts) == 2 and parts[0] in fps:
        status[parts[0]] = parts[1]
bad = {n: status.get(n, "NOT CHECKED") for n in fps
       if not (status.get(n, "").startswith("OK rows=") or
               (status.get(n, "").startswith("ROWS_ONLY rows=") and
                "EMPTY" not in status[n]))}
if bad:
    for n, s in sorted(bad.items()):
        print(f"{n}: {s}", file=sys.stderr)
    sys.exit(f"perfbench: {len(bad)} failed the oracle check; nothing written")
out = os.path.join(root, "perfbench", "expected", f"{sf}.json")
with open(out, "w") as f:
    json.dump(fps, f, indent=1, sort_keys=True)
    f.write("\n")
print(f"perfbench: {len(fps)} fingerprints confirmed against the oracle -> {out}")
