"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/summarize.py --workloads crawl_bulk batch_curate \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--sets 2] [--trace-seeds 11] [--out FILE]

Each workload runs ``--sets`` sets of the same code over the same seeds,
interleaved seed by seed (A1 B1 A2 B2 ...), so a host that speeds up or
slows down during the runs moves every set alike. For every set and
end-to-end metric: the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1) / median,
checked against the metric's ``bound`` in ``BENCHMARK.json``. Every later
set's median must also not be worse than the first set's by more than the
bound. ``--trace-seeds`` adds traced runs, summarized per-layer, plus the
tracing overhead: the traced runs' measured wall minus the untraced runs'
median measured wall. Exits 1 when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n"
                           f"{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}")
    report = json.loads(lines[-2].split(" ", 1)[1])
    return {"result": json.loads(lines[-1]), "report": report}


def stats(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    if not first:
        return 0.0
    return ((later - first) if better == "lower" else (first - later)) / first


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace-seeds", nargs="*", type=int, default=[])
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    summary, ok = {}, True
    for wl in args.workloads:
        sets: list[list[dict]] = [[] for _ in range(args.sets)]
        for seed in args.seeds:
            for k, runs in enumerate(sets):
                r = one_run(wl, seed, bench["run_seconds"], 0)
                runs.append(r)
                print(wl, f"set{k}", seed, json.dumps(
                    {n: round(v["value"], 4)
                     for n, v in r["result"]["metrics"].items()}), flush=True)
        entry = {"seeds": args.seeds, "sets": []}
        for runs in sets:
            e2e = {}
            for name in runs[0]["result"]["metrics"]:
                st = stats([r["result"]["metrics"][name]["value"]
                            for r in runs])
                st["bound"] = bounds[name]
                st["steady"] = st["spread"] <= bounds[name]
                ok &= st["steady"]
                e2e[name] = st
            report = {name: stats([r["report"]["metrics"][name]["value"]
                                   for r in runs])
                      for name in runs[0]["report"]["metrics"]}
            correct = all(r["result"]["correct"] for r in runs)
            ok &= correct
            entry["sets"].append({"correct": correct, "end_to_end": e2e,
                                  "report": report})
        first = entry["sets"][0]["end_to_end"]
        entry["agreement"] = {}
        for name, st in first.items():
            worst = max((worse_by(st["median"], later["end_to_end"][name]
                                  ["median"], better[name])
                         for later in entry["sets"][1:]), default=0.0)
            entry["agreement"][name] = {"worse_by": worst,
                                        "bound": bounds[name],
                                        "agree": worst <= bounds[name]}
            ok &= worst <= bounds[name]
        if args.trace_seeds:
            traced = [one_run(wl, s, bench["run_seconds"], 1)
                      for s in args.trace_seeds]
            entry["trace_seeds"] = args.trace_seeds
            entry["per_layer"] = {
                name: statistics.median(t["result"]["metrics"][name]["value"]
                                        for t in traced)
                for name in traced[0]["result"]["metrics"]}
            entry["trace_overhead_s"] = (
                entry["per_layer"]["trace.measured_s"] - statistics.median(
                    r["report"]["metrics"]["measured_s"]["value"]
                    for runs in sets for r in runs))
        summary[wl] = entry
        for k, st in enumerate(entry["sets"]):
            print(wl, f"set{k}", json.dumps(
                {n: {"median": round(v["median"], 4),
                     "spread": round(v["spread"], 4)}
                 for n, v in st["end_to_end"].items()}), flush=True)
        print(wl, "worse_by", json.dumps(
            {n: round(a["worse_by"], 4)
             for n, a in entry["agreement"].items()}), flush=True)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
