#!/usr/bin/env python3
"""Repeats benchmark runs over seeds and reports each metric's spread.

    python3 kebench/repeat.py --workload update_mixed --seeds 1-10
    python3 kebench/repeat.py --workload serve_hybrid --seeds 1-5 --trace 1

For every metric it prints the median, the quartiles (Python's
statistics.quantiles(n=4)), and the spread: the interquartile distance
as a share of the median, next to the metric's bound from
BENCHMARK.json. With --trace 1 it also prints the tracing overhead:
the traced runs' trace.search_p50_ms against search_p50_ms of the same
seeds run untraced (--against-untraced runs those too). Every run is
reported; none is dropped or kept as a best.
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


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    print(f"# {workload} seed {seed} trace {trace}: exit {p.returncode}, "
          f"{time.time() - t0:.0f} s wall", flush=True)
    for line in lines[:-1]:
        if line.startswith("[kebench] phase"):
            print("#   " + line[len("[kebench] "):], flush=True)
    if res:
        print(json.dumps(res), flush=True)
    return res


def summary(name, values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("nan")
    flag = "" if bound is None or spread <= bound / 3 else \
        ("  > bound/3" if spread <= bound else "  > BOUND")
    b = "" if bound is None else f" bound {bound}"
    print(f"{name:45s} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
          f"spread {spread:.3f}{b}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--against-untraced", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in
              bench["end_to_end"] + bench["per_layer"]}
    results = [run(a.workload, s, bench["run_seconds"], a.trace)
               for s in seeds(a.seeds)]
    ok = [r for r in results if r]
    print(f"# {len(ok)}/{len(results)} runs succeeded; "
          f"{sum(1 for r in ok if r['correct'])} correct; attempted "
          f"{sum(r['attempted'] for r in ok)}, failed "
          f"{sum(r['failed'] for r in ok)}")
    if len(ok) < 2:
        return
    for name in ok[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in ok
                if r["metrics"].get(name, {}).get("value") is not None]
        if len(vals) >= 2:
            summary(name, vals, bounds.get(name))
    if a.trace and a.against_untraced:
        base = [run(a.workload, s, bench["run_seconds"], 0)
                for s in seeds(a.seeds)]
        traced = statistics.median(r["metrics"]["trace.search_p50_ms"]["value"]
                                   for r in ok)
        plain = statistics.median(r["metrics"]["search_p50_ms"]["value"]
                                  for r in base if r)
        print(f"tracing overhead on search_p50_ms: {traced - plain:.1f} ms "
              f"({100 * (traced / plain - 1):.1f} %) over {len(ok)} seeds")


if __name__ == "__main__":
    main()
