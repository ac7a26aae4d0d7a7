#!/usr/bin/env python3
"""Run the benchmark as the acceptance check does and record the results.

    python3 perfbench/collect.py --out perfbench/results/baseline.json

For every seed from 1 to 10 and every workload it makes two untraced
runs, one for set A and one for set B, so the two sets interleave in
time and share the host's drift.  The first ``TRACED`` seeds of each
workload add a traced run right after their untraced pair.  The run
length is ``run_seconds`` of BENCHMARK.json.

Per workload and end-to-end metric it reports, for each set, the median
and the quartile spread ((q3 - q1) / median, quartiles from
``statistics.quantiles(values, n=4)``), and how much worse set B's
median is than set A's, as a share of A's (negative: better), next to
the metric's bound.  Per traced run it records the per-layer metrics
and the tracing overhead: traced ``trace.op_p50_s`` minus the untraced
``op_p50_s`` of the same seed in set A.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEEDS = range(1, 11)
SETS = ("A", "B")
TRACED = 2


def one(workload: str, seed: int, trace: int, label: str) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["posture"] = next(json.loads(x)["posture"] for x in lines if x.startswith('{"posture"'))
    result["wall_s"] = time.perf_counter() - t
    print(f"{workload} seed={seed} {label} wall={result['wall_s']:.1f}s correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items() if trace == 0),
          flush=True)
    return result


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "spread": (q3 - q1) / med, "values": values}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--out", help="where to write the results as JSON")
    args = p.parse_args()
    workloads = [w["name"] for w in SPEC["workloads"]]
    runs = {w: {s: {} for s in SETS} for w in workloads}
    traced = {w: {} for w in workloads}
    for seed in SEEDS:
        for w in workloads:
            for label in SETS:
                runs[w][label][seed] = one(w, seed, 0, label)
            if len(traced[w]) < TRACED:
                traced[w][seed] = one(w, seed, 1, "traced")

    summary = {}
    for w in workloads:
        every = [r for label in SETS for r in runs[w][label].values()] + list(traced[w].values())
        e2e = {}
        for m in SPEC["end_to_end"]:
            name = m["name"]
            sets = {label: spread([r["metrics"][name]["value"] for r in runs[w][label].values()])
                    for label in SETS}
            a, b = sets["A"]["median"], sets["B"]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            e2e[name] = {**sets, "b_worse_than_a": worse, "bound": m["bound"]}
            print(f"  {w} {name}: A median={a:.4g} spread={sets['A']['spread']:.3f}; "
                  f"B median={b:.4g} spread={sets['B']['spread']:.3f}; "
                  f"B worse than A by {worse:+.3f} (bound {m['bound']})", flush=True)
        summary[w] = {
            "end_to_end": e2e,
            "all_correct": all(r["correct"] for r in every),
            "attempted": sum(r["attempted"] for r in every),
            "failed": sum(r["failed"] for r in every),
            "wall_s": spread([r["wall_s"] for label in SETS for r in runs[w][label].values()]),
            "postures": {label: [r["posture"] for r in runs[w][label].values()] for label in SETS},
            "traced": [{
                "seed": s,
                "posture": r["posture"],
                "tracing_overhead_s": r["metrics"]["trace.op_p50_s"]["value"]
                - runs[w]["A"][s]["metrics"]["op_p50_s"]["value"],
                "per_layer": {k: v["value"] for k, v in r["metrics"].items()},
            } for s, r in traced[w].items()],
        }
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
