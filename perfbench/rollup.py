#!/usr/bin/env python3
"""Roll up a trace of the kinbakuspark benchmark by layer, or diff two.

Usage, from the root of the repository:

    python3 perfbench/rollup.py TRACE.jsonl
    python3 perfbench/rollup.py --diff A.jsonl B.jsonl
    python3 perfbench/rollup.py --overhead UNTRACED.json TRACED.json

A trace is what `perfbench/run.py --trace 1` writes to
.bench_build/perfbench/out/trace-<workload>-s<seed>-t1.jsonl: one span per
call the benchmark made into a layer, with its parent, the timed operation
it belongs to (op 0 = set-up), its self time (duration minus its
children's), and the Spark counters of its own work.

The roll-up sums self time and counters per layer and per call, separately
for set-up and for the timed operations. --overhead reports the tracing overhead from the
result files of an untraced and a traced run of one workload and seed: the
traced run's median op latency (trace.op_p50_ms) against the untraced
run's (op_p50_ms).

The diff matches spans of two traces by (layer, name, op, occurrence), so
two runs of one seed compare call by call. It lists, for every counter,
how many matched calls read exactly the same in both, and per call site
the mean of each counter on both sides with its delta. Cite those deltas
when claiming a counter moved.
"""
import argparse
import collections
import json
import statistics


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def rollup(spans):
    out = {}
    for phase, keep in (("setup", lambda s: s["op"] == 0), ("timed", lambda s: s["op"] > 0)):
        layers = collections.OrderedDict()
        for s in filter(keep, spans):
            d = layers.setdefault(s["layer"], {"calls": 0, "self_ms": 0.0, "counters": collections.Counter()})
            d["calls"] += 1
            d["self_ms"] += s["self_ms"]
            d["counters"].update(s["counters"])
        out[phase] = layers
    return out


def by_site(spans):
    sites = collections.OrderedDict()
    for s in spans:
        sites.setdefault((s["layer"], s["name"], "setup" if s["op"] == 0 else "timed"), []).append(s)
    return sites


def print_rollup(spans):
    r = rollup(spans)
    n_ops = len({s["op"] for s in spans if s["op"] > 0})
    for phase, layers in r.items():
        print(f"== {phase}" + (f" ({n_ops} timed ops)" if phase == "timed" else ""))
        for layer, d in layers.items():
            c = d["counters"]
            print(f"  {layer:<10} calls {d['calls']:>5}  self {d['self_ms'] / 1000:8.3f} s  "
                  f"jobs {c['jobs']:.0f}  stages {c['stages']:.0f}  tasks {c['tasks']:.0f}  "
                  f"exchanges {c['exchanges']:.0f}  plan {c['plan_ms']:.0f} ms  "
                  f"shuffle w/r {c['shuffle_write_bytes']:.0f}/{c['shuffle_read_bytes']:.0f} B  "
                  f"spill {c['spill_bytes']:.0f} B  written {c['bytes_written']:.0f} B  "
                  f"gc {c['gc_ms']:.0f} ms")
    print("== per call site (median ms, mean counters per call)")
    for (layer, name, phase), ss in by_site(spans).items():
        mean = lambda k: sum(s["counters"][k] for s in ss) / len(ss)
        print(f"  {phase:<5} {layer}.{name:<22} n={len(ss):<4} "
              f"median {statistics.median(s['end_ms'] - s['start_ms'] for s in ss):9.1f} ms  "
              f"self {statistics.median(s['self_ms'] for s in ss):9.1f} ms  jobs {mean('jobs'):.2f}  "
              f"exchanges {mean('exchanges'):.2f}  shuffle {mean('shuffle_write_bytes'):.0f} B")


def overhead(untraced, traced):
    with open(untraced) as f:
        base = json.load(f)["metrics"]["op_p50_ms"]["value"]
    with open(traced) as f:
        t = json.load(f)["metrics"]["trace.op_p50_ms"]["value"]
    print(f"tracing overhead: op p50 {base:.1f} ms untraced, {t:.1f} ms traced, {t / base - 1:+.1%}")


def occurrences(spans):
    seen = collections.Counter()
    keyed = {}
    for s in spans:
        k = (s["layer"], s["name"], s["op"])
        keyed[k + (seen[k],)] = s
        seen[k] += 1
    return keyed


def diff(a_path, b_path):
    a, b = load(a_path), load(b_path)
    ka, kb = occurrences(a), occurrences(b)
    common = [k for k in ka if k in kb]
    print(f"{len(common)} calls matched ({len(ka)} in A, {len(kb)} in B)")
    same = collections.Counter()
    for k in common:
        for c, v in ka[k]["counters"].items():
            same[c] += v == kb[k]["counters"][c]
    print("== calls whose counter reads exactly the same in both")
    for c in sorted(same):
        tag = "repeats" if same[c] == len(common) else "varies"
        print(f"  {c:<20} {same[c]:>5}/{len(common)}  {tag}")
    print("== per call site, mean per call over matched calls: A -> B (delta)")
    sites = collections.OrderedDict()
    for k in common:
        sites.setdefault(k[:2] + ("setup" if k[2] == 0 else "timed",), []).append(k)
    for site, ks in sites.items():
        parts = []
        for c in ("jobs", "stages", "exchanges", "shuffle_write_bytes", "bytes_written", "plan_ms"):
            va = sum(ka[k]["counters"][c] for k in ks) / len(ks)
            vb = sum(kb[k]["counters"][c] for k in ks) / len(ks)
            if va or vb:
                parts.append(f"{c} {va:.4g} -> {vb:.4g} ({vb - va:+.4g})")
        ma = statistics.median(ka[k]["end_ms"] - ka[k]["start_ms"] for k in ks)
        mb = statistics.median(kb[k]["end_ms"] - kb[k]["start_ms"] for k in ks)
        print(f"  {site[2]:<5} {site[0]}.{site[1]} n={len(ks)}: ms {ma:.1f} -> {mb:.1f}; "
              + "; ".join(parts))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", nargs="?")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    ap.add_argument("--overhead", nargs=2, metavar=("UNTRACED", "TRACED"))
    a = ap.parse_args()
    if a.diff:
        diff(*a.diff)
    elif a.overhead:
        overhead(*a.overhead)
    elif a.trace:
        print_rollup(load(a.trace))
    else:
        ap.error("give a trace file, --diff A B or --overhead UNTRACED TRACED")


if __name__ == "__main__":
    main()
