"""Run the benchmark over several seeds and report the spread.

    python3 perfbench/spread.py --seeds 1-10 [--workloads query_point] [--traced 2]

For each workload and end-to-end metric: the median and quartiles over the
runs (``statistics.quantiles(values, n=4)``), the spread (Q3 - Q1) / median,
and the metric's bound from BENCHMARK.json.  ``--traced N`` adds N traced
runs per workload and reports the tracing overhead: the median traced
end-to-end value minus the untraced median.  Runs go one at a time, from
the root of the checkout.  Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    out = {}
    for w in names:
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            detail, result = run_once(bench, w, s, 0)
            runs.append((detail, result))
            print(f"{w} seed {s}: {time.time() - t0:.1f}s correct={result['correct']} "
                  f"steal={detail['cpu_steal_frac']:.3f} "
                  f"{ {k: round(v['value'], 4) for k, v in result['metrics'].items()} }",
                  file=sys.stderr, flush=True)
        rep = {"runs": len(runs), "all_correct": all(r["correct"] for _, r in runs),
               "near_tie_swaps": [d["near_tie_swaps"] for d, _ in runs],
               "cpu_steal_frac": [round(d["cpu_steal_frac"], 4) for d, _ in runs], "metrics": {}}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for _, r in runs]
            rep["metrics"][m["name"]] = {**summary(vals), "bound": m["bound"],
                                         "unit": m["unit"]}
        if args.traced:
            traced = [run_once(bench, w, s, 1)[0] for s in seeds(args.seeds)[: args.traced]]
            rep["trace_overhead"] = {
                m: statistics.median(d["end_to_end"][m] for d in traced)
                - rep["metrics"][m]["median"]
                for m in rep["metrics"]
            }
        out[w] = rep
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
