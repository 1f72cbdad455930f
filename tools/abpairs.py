#!/usr/bin/env python3
"""Interleaved A/B pairs of perfbench runs between two checkouts.

    python3 tools/abpairs.py --parent ../parent --change . \\
        --workload serve_wire --pairs 10 --seed 1701 --out ab_serve.jsonl
    python3 tools/abpairs.py --summarize ab_serve.jsonl

Pair i runs `python3 perfbench/run.py --workload W --seed <seed + i>` once
in each checkout (each as its own cwd, so each builds and runs its own
sources); the arm that goes first alternates with i, so a host that drifts
slower over the set penalises both arms alike. Every run's result line
(and its per-operation `  op` lines) is appended to --out as one JSON
line as soon as it finishes, so an interrupted set keeps what it ran.

The summary gives, per workload and metric of BENCHMARK.json:
each arm's median and quartiles, the pairs the change won, the claim rule
(at least 10 pairs, won >= 90 % of them AND the median moved the better
way by more than the parent's interquartile range; "-" below 10 pairs) and, for an end-to-end metric, its
regression bound (the change's median may be worse than the parent's by at
most that fraction).
The script reads perfbench/ and BENCHMARK.json and changes neither.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_one(root, workload, seed, seconds, trace):
    """One perfbench run in `root`: its result line, `op` lines and wall time."""
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True)
    rec = {"wall_s": round(time.time() - t, 1), "returncode": p.returncode}
    lines = p.stdout.strip().splitlines()
    try:
        rec["result"] = json.loads(lines[-1])
    except (IndexError, ValueError):
        rec["error"] = (p.stderr.strip().splitlines() or ["no output"])[-1]
    rec["ops"] = [l.strip() for l in lines if l.startswith("  op ")]
    return rec


def quartiles(xs):
    """(q1, median, q3), linear interpolation between closest ranks."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load_bounds(bench_json):
    with open(bench_json) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec.get("per_layer", [])}


def summarize(records, bounds):
    by_wl = {}
    for r in records:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in by_wl.items():
        pairs = {}
        for r in rs:
            pairs.setdefault(r["seed"], {})[r["arm"]] = r
        full = {s: p for s, p in sorted(pairs.items())
                if all("result" in p.get(a, {}) for a in ("parent", "change"))}
        print(f"== {wl}: {len(full)} complete pairs (seeds {', '.join(map(str, full))})")
        for arm in ("parent", "change"):
            res = [r["result"] for r in rs if r["arm"] == arm and "result" in r]
            bad = sum(1 for r in rs if r["arm"] == arm and "result" not in r)
            print(f"   {arm:6s}: {len(res)} runs, {bad} without a result, "
                  f"all correct: {all(x['correct'] for x in res)}, "
                  f"failed {sum(x['failed'] for x in res)} of "
                  f"{sum(x['attempted'] for x in res)} operations")
        if not full:
            continue
        need = -(-9 * len(full) // 10)  # 9 of 10, scaled to the pair count
        print(f"   {'metric':12s} {'parent median [q1, q3]':>30s} "
              f"{'change median [q1, q3]':>30s} {'change':>8s} {'won':>6s}  claim  bound")
        for name, m in bounds.items():
            vals = {a: [p[a]["result"]["metrics"].get(name, {}).get("value")
                        for p in full.values()] for a in ("parent", "change")}
            if any(v is None for vs in vals.values() for v in vs):
                continue
            lower = m["better"] == "lower"
            (p1, pm, p3), (c1, cm, c3) = (quartiles(vals[a]) for a in ("parent", "change"))
            won = sum(1 for p, c in zip(vals["parent"], vals["change"])
                      if (c < p if lower else c > p))
            gain = (pm - cm) if lower else (cm - pm)
            claim = "-" if len(full) < 10 else "MET" if won >= need and gain > p3 - p1 else "no"
            rel = (cm - pm) / pm if pm else 0.0
            worse = -rel if not lower else rel
            if "bound" not in m:  # a per-layer metric of a --trace 1 set
                bound = "-"
            elif worse <= m["bound"]:
                bound = f"ok (bound {m['bound']:.0%})"
            else:
                bound = f"WORSE by {worse:.1%} (bound {m['bound']:.0%})"
            print(f"   {name:12s} {pm:12.4g} [{p1:.4g}, {p3:.4g}]".ljust(47) +
                  f" {cm:12.4g} [{c1:.4g}, {c3:.4g}]".ljust(31) +
                  f" {rel:+8.1%} {won:3d}/{len(full):<2d}  {claim:4s}  "
                  f"{bound}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout root of the parent arm")
    ap.add_argument("--change", help="checkout root of the change arm")
    ap.add_argument("--workload", action="append",
                    help="perfbench workload; repeat for several (pairs run per workload)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="JSON-lines file every run is appended to")
    ap.add_argument("--summarize", metavar="JSONL",
                    help="only print the summary of a kept --out file")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json"),
                    help="where the metrics' directions and bounds are read")
    a = ap.parse_args()
    bounds = load_bounds(a.benchmark)

    if a.summarize:
        with open(a.summarize) as f:
            summarize([json.loads(l) for l in f if l.strip()], bounds)
        return
    if not (a.parent and a.change and a.workload and a.out):
        ap.error("--parent, --change, --workload and --out are required to run pairs")
    roots = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for arm, root in roots.items():
        if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
            ap.error(f"no perfbench/run.py under the {arm} checkout {root}")
    records = []
    with open(a.out, "a") as out:
        for wl in a.workload:
            for i in range(a.pairs):
                seed = a.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for arm in order:
                    rec = {"workload": wl, "seed": seed, "arm": arm, "first": order[0],
                           "trace": a.trace}
                    rec.update(run_one(roots[arm], wl, seed, a.seconds, a.trace))
                    records.append(rec)
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    m = rec.get("result", {}).get("metrics", {})
                    print(f"{wl} seed {seed} {arm:6s} " +
                          (" ".join(f"{k}={v['value']}" for k, v in m.items()
                                    if k in bounds) or rec.get("error", "")),
                          file=sys.stderr, flush=True)
    summarize(records, bounds)


if __name__ == "__main__":
    main()
