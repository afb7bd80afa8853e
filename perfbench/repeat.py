#!/usr/bin/env python3
"""Run every workload on several seeds and summarise the spread.

Usage, from the root of the repository:

    python3 perfbench/repeat.py --seeds 1-10 [--seeds-b 11-20] [--out FILE.json]

Each run is one `perfbench/run.py` invocation (untraced), one after another.
For every workload and end-to-end metric the summary gives the median, the
first and third quartiles (Python's statistics.quantiles, n=4) and the
spread (Q3 - Q1) / median. A metric whose spread is not below a third of
its bound in BENCHMARK.json is listed under "unsteady". With --seeds-b a
second set runs interleaved with the first (seed by seed, A then B), and
every median of B that differs from A's by more than the bound, in either
direction, is listed under "disagree".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summarise(runs, bench):
    out = {}
    for w, rs in runs.items():
        rows = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            rows[m["name"]] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                               "spread": (q3 - q1) / statistics.median(vals),
                               "bound": m["bound"], "values": vals}
        out[w] = {"runs": len(rs), "failed_ops": sum(r["failed"] for r in rs),
                  "attempted_ops": sum(r["attempted"] for r in rs),
                  "all_correct": all(r["correct"] for r in rs), "metrics": rows,
                  "unsteady": [n for n, v in rows.items() if v["spread"] >= v["bound"] / 3]}
    return out


def disagree(a, b):
    """Medians of b that differ from a's by more than the bound, either way."""
    bad = []
    for w in a:
        for n, va in a[w]["metrics"].items():
            vb = b[w]["metrics"][n]
            d = (vb["median"] - va["median"]) / va["median"]
            if abs(d) > va["bound"]:
                bad.append(f"{w}.{n}: {va['median']:.4g} -> {vb['median']:.4g} ({d:+.1%})")
    return bad


def run_one(bench, w, s):
    t0 = time.time()
    p = subprocess.run([sys.executable] + bench["command"][1:] +
                       ["--workload", w, "--seed", str(s),
                        "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{w} seed {s} failed:\n{p.stderr[-3000:]}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r["wall_s"] = time.time() - t0
    print(f"{w} seed {s}: {r['wall_s']:.1f}s "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    return r


def report(name, summary):
    for w, s in summary["workloads"].items():
        print(f"{name} {w} unsteady: {s['unsteady']} all correct: {s['all_correct']}")
        for n, v in s["metrics"].items():
            print(f"  {n}: median {v['median']:.4g} spread {v['spread']:.2%} (bound {v['bound']:.0%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seeds-b", help="a second set, run interleaved with the first")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = spec()
    sets = {"a": seeds_of(a.seeds)}
    if a.seeds_b:
        sets["b"] = seeds_of(a.seeds_b)
    names = [w["name"] for w in bench["workloads"]]
    runs = {k: {w: [] for w in names} for k in sets}
    for w in names:
        for i in range(max(len(s) for s in sets.values())):
            for k, seeds in sets.items():
                if i < len(seeds):
                    runs[k][w].append(run_one(bench, w, seeds[i]))
    result = {}
    for k, seeds in sets.items():
        result[k] = {"seeds": seeds, "run_seconds": bench["run_seconds"],
                     "wall_s": {w: sum(r["wall_s"] for r in rs) for w, rs in runs[k].items()},
                     "workloads": summarise(runs[k], bench)}
        report(k, result[k])
    if "b" in result:
        result["disagree"] = disagree(result["a"]["workloads"], result["b"]["workloads"])
        print("medians of B off A's by more than the bound:", result["disagree"])
    if a.out:
        with open(a.out, "w") as f:
            f.write(json.dumps(result, indent=1) + "\n")


if __name__ == "__main__":
    main()
