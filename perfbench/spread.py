#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics over several seeds.

    python3 perfbench/spread.py --workloads search dedup --seeds 1 2 3 4 5
    python3 perfbench/spread.py --trace 1 --seeds 1
    python3 perfbench/spread.py --against .bench_out/spread-<time>.json

Runs each workload once per seed with the settings in BENCHMARK.json
and prints, per metric, the median and the spread: the distance between
the first and third quartiles (statistics.quantiles, n=4) as a share of
the median, next to a third of the metric's bound. It also checks that
every run is correct and reports exactly the declared metrics, and
prints each run's share of CPU time stolen by the hypervisor (Linux
/proc/stat), which shows when other guests slow the machine. With
--against it also compares each median with an earlier set's and flags
a metric that got worse by more than its bound. Raw results go to
.bench_out/spread-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat; None elsewhere."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between."""
    if not before or not after or after[1] == before[1]:
        return float("nan")
    return (after[0] - before[0]) / (after[1] - before[1])


def run(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    return p.returncode, wall, res, p.stderr[-2000:] + "\n".join(
        l for l in lines if "CHECK FAILED" in l or "latencies" in l or "setup:" in l)


def values(runs, name):
    """One metric's values over a workload's runs, where it was measured."""
    return [r["result"]["metrics"][name]["value"] for r in runs
            if r["result"] and name in r["result"]["metrics"]
            and r["result"]["metrics"][name]["value"] is not None]


def medians(raw, declared):
    return {(w, m["name"]): statistics.median(v) for w, runs in raw.items()
            for m in declared for v in [values(runs, m["name"])] if v}


def compare(raw, earlier_path, declared):
    """Median of this set against the same median of an earlier set: a
    metric fails if it got worse by more than its bound."""
    with open(earlier_path) as f:
        first = medians(json.load(f), declared)
    second = medians(raw, declared)
    print(f"\n{'workload':13s} {'metric':28s} {'first':>14s} {'second':>14s} {'worse by':>9s} {'bound':>6s}")
    problems = []
    for m in declared:
        for w in raw:
            k = (w, m["name"])
            if k not in first or k not in second or not first[k] or m.get("bound") is None:
                continue
            worse = (second[k] - first[k]) / first[k]
            if m["better"] == "higher":
                worse = -worse
            flag = "  <-- past the bound" if worse > m["bound"] else ""
            print(f"{w:13s} {m['name']:28s} {first[k]:14.4f} {second[k]:14.4f} {worse:9.4f} "
                  f"{m['bound']:6.2f}{flag}")
            if flag:
                problems.append(f"{w} {m['name']}: second median worse by {worse:.3f} "
                                f"(bound {m['bound']})")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--against", metavar="RAW_JSON",
                    help="an earlier raw result: compare each median with it")
    a = ap.parse_args()

    declared = bench["per_layer"] if a.trace else bench["end_to_end"]
    names = [m["name"] for m in declared]
    raw, problems = {}, []
    for w in a.workloads:
        raw[w] = []
        for s in a.seeds:
            ticks = cpu_ticks()
            code, wall, res, err = run(bench, w, s, a.trace)
            steal = steal_share(ticks, cpu_ticks())
            raw[w].append({"seed": s, "exit": code, "wall_s": wall, "steal": steal,
                           "result": res, "log": err})
            ok = code == 0 and res is not None and res.get("correct") is True
            if not ok:
                problems.append(f"{w} seed {s}: exit {code}, result {res}\n{err}")
            elif sorted(res["metrics"]) != sorted(names):
                problems.append(f"{w} seed {s}: metrics {sorted(res['metrics'])} != declared")
            op = res and res["metrics"].get("op_p50_ms", {}).get("value")
            print(f"{w:13s} seed {s:3d}  exit {code}  wall {wall:6.1f} s  "
                  f"attempted {res and res.get('attempted')}  failed {res and res.get('failed')}  "
                  f"op_p50_ms {op if op is None else round(op, 1)}  cpu steal {steal:.3f}",
                  flush=True)

    print()
    print(f"{'workload':13s} {'metric':28s} {'median':>14s} {'spread':>8s} {'bound/3':>8s}")
    for w in a.workloads:
        for m in declared:
            vals = values(raw[w], m["name"])
            if len(vals) < 2:
                continue
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
            limit = m.get("bound")
            flag = ""
            if limit is not None and m["name"] != "setup_s" and not spread < limit / 3:
                flag = "  <-- above a third of the bound"
            lim = f"{limit / 3:8.4f}" if limit is not None else " " * 8
            print(f"{w:13s} {m['name']:28s} {med:14.4f} {spread:8.4f} {lim}{flag}")
    if a.against:
        problems += compare(raw, a.against, declared)
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    out = os.path.join(ROOT, ".bench_out", f"spread-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(raw, f, indent=1)
    print(f"\nraw results: {out}")
    for p in problems:
        print("PROBLEM:", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
