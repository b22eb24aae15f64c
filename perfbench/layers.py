#!/usr/bin/env python3
"""Write the per-layer table, perfbench/LAYERS.md, from one untraced and
one traced run of every workload.

    python3 perfbench/layers.py --seed 1

For each layer metric the table names the end-to-end metric it should
move, the workload it should move it on, and where the prediction is no
change; times are also given as a multiple of the plain-JVM floor where
one exists. Tracing overhead is timed directly on each traced op (the
tracer's bookkeeping plus the wait for the listener's counters) and is
shown beside the traced ops' median and the untraced run's op_p50_ms.
"""
import argparse
import datetime
import json
import os
import sys

sys.dont_write_bytecode = True
import spread  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# metric -> (end-to-end metric it should move, on, flat on)
MOVES = {
    "search.decode_ms": ("op_p50_ms", "search", "ingest, dedup"),
    "search.score_ms": ("op_p50_ms, items_per_s", "search, search_batch", "dedup"),
    "search.topk_ms": ("op_p50_ms", "search", "dedup"),
    "search.floor_ms": ("reference for the layer", "search", "n/a"),
    "search.floor_x": ("search op over its floor", "search", "n/a"),
    "batch.score_ms": ("items_per_s", "search_batch", "search"),
    "batch.rank_ms": ("items_per_s", "search_batch", "search"),
    "batch.floor_ms": ("reference for the layer", "search_batch", "n/a"),
    "batch.floor_x": ("searchMany op over its floor", "search_batch", "n/a"),
    "ingest.embed_ms": ("op_p50_ms", "ingest", "search"),
    "ingest.dupjoin_ms": ("op_p50_ms", "ingest", "search"),
    "ingest.save_ms": ("op_p50_ms, index_mb", "ingest", "search"),
    "ingest.contains_ms": ("read_p50_ms (printed)", "ingest", "search"),
    "ingest.search_text_ms": ("read_p50_ms (printed), recall", "ingest", "dedup"),
    "dedup.sketch_ms": ("op_p50_ms", "dedup", "search"),
    "dedup.probe_ms": ("op_p50_ms, items_per_s", "dedup", "search, ingest"),
    "dedup.append_ms": ("op_p50_ms, index_mb", "dedup", "search"),
    "dedup.match_ratio": ("recall", "dedup", "n/a"),
    # the rank window is cut to k rows per query and partition before the
    # exchange, so searchMany's cost shows in task CPU, not shuffle bytes
    "batch.task_cpu_ms": ("items_per_s", "search_batch", "search"),
    "dedup.shuffle_records": ("op_p50_ms", "dedup", "search, ingest"),
}
OP_LABELS = {"search", "batch", "ingest", "dedup"}  # counter prefixes
FLOOR_OF = {"search.decode_ms": "search.floor_ms", "search.score_ms": "search.floor_ms",
            "search.topk_ms": "search.floor_ms", "batch.score_ms": "batch.floor_ms",
            "batch.rank_ms": "batch.floor_ms"}


def fmt(v):
    return "null" if v is None else f"{v:.4g}" if abs(v) < 1e6 else f"{v:.0f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(spread.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}

    out = ["# Per-layer table", "",
           f"First traced run of each workload: seed {a.seed}, {bench['run_seconds']} s per run, "
           f"{os.cpu_count()} cores, one closed-loop client, `local[{os.cpu_count()}]`. "
           f"Written by `python3 perfbench/layers.py --seed {a.seed}` on "
           f"{datetime.date.today().isoformat()}. Layer times come from cut points: the same op cut "
           "at a layer boundary and sent to a `noop` sink, differenced; a layer whose cost is within "
           "the noise can come out slightly negative. Counters are per op. "
           "Only metrics the workload exercises are listed; the rest read 0.", ""]
    for w in [x["name"] for x in bench["workloads"]]:
        runs = {}
        for t in (0, 1):
            code, wall, res, err = spread.run(bench, w, a.seed, t)
            if code != 0 or not res:
                print(f"{w} trace={t} failed: exit {code}\n{err}", file=sys.stderr)
                return 1
            runs[t] = res
        e2e = {k: v["value"] for k, v in runs[0]["metrics"].items()}
        lay = {k: v["value"] for k, v in runs[1]["metrics"].items()}
        out += [f"## {w}", "",
                "End to end (untraced run): " + ", ".join(
                    f"{k} {fmt(v)} {units[k]}" for k, v in e2e.items()) + ".", ""]
        out += [f"Tracing overhead: {fmt(lay['trace.overhead_ms'])} ms per traced op, timed directly "
                "(the tracer's bookkeeping plus the wait for the listener's counters). The traced "
                f"ops' median was {fmt(lay['trace.op_p50_ms'])} ms; the untraced run's op_p50_ms was "
                f"{fmt(e2e['op_p50_ms'])} ms.", "",
                "| layer metric | value | unit | x floor | moves | on | flat on |",
                "| --- | ---: | --- | ---: | --- | --- | --- |"]
        for k, v in lay.items():
            if k.startswith("trace.") or not v:
                continue
            if "." in k and k.split(".")[0] in OP_LABELS and k not in MOVES:
                moves = (f"op_p50_ms ({k.split('.')[0]} ops)", w, "n/a")
            else:
                moves = MOVES.get(k, ("", "", ""))
            floor = lay.get(FLOOR_OF.get(k, ""), 0)
            xf = fmt(v / floor) if floor else ""
            out.append(f"| `{k}` | {fmt(v)} | {units.get(k, '')} | {xf} | {moves[0]} | {moves[1]} | {moves[2]} |")
        out.append("")
        print(f"{w}: done", flush=True)
    with open(os.path.join(HERE, "LAYERS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote perfbench/LAYERS.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
