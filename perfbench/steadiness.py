"""Run the benchmark on several seeds per workload and record each
end-to-end metric's spread: the distance between the first and the third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median.
With ``--sets 2`` the whole measurement is repeated on the same seeds and
the second set's median is compared with the first's. With ``--traced N``
the first N seeds are also run with ``--trace 1``, and each traced pass is
compared with the untraced pass of the same seed: the tracing overhead.

    python3 perfbench/steadiness.py --runs 10 --sets 2 --traced 2 --out perfbench/steadiness.json

Runs are sequential, one benchmark process at a time, with the command and
``run_seconds`` of ``BENCHMARK.json``.
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


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    out = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.perf_counter() - t0
    return result


def measure(spec: dict, workload: str, seeds: range) -> dict:
    runs = [run_once(spec, workload, s) for s in seeds]
    metrics = {}
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        metrics[m["name"]] = {
            "median": statistics.median(values),
            "spread": spread(values),
            "values": values,
        }
    return {
        "seeds": [seeds[0], seeds[-1]],
        "all_correct": all(r["correct"] for r in runs),
        "wall_s": [round(r["wall_s"], 1) for r in runs],
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    record = {"bounds": {m["name"]: m["bound"] for m in spec["end_to_end"]}, "workloads": {}}
    for w in args.workloads or [w["name"] for w in spec["workloads"]]:
        seeds, sets = range(1, args.runs + 1), []
        for _ in range(args.sets):
            sets.append(measure(spec, w, seeds))
            print(w, json.dumps({k: round(v["spread"], 4) for k, v in sets[-1]["metrics"].items()}),
                  flush=True)
        entry = {"sets": sets}
        if len(sets) > 1:
            # worsening of the last set's median against the first's
            entry["median_drift"] = {
                k: v["median"] / sets[0]["metrics"][k]["median"] - 1
                for k, v in sets[-1]["metrics"].items()
            }
        if args.traced:
            untraced = sets[0]["metrics"]["pass_s"]["values"]
            traced = [run_once(spec, w, s, trace=1) for s in seeds[: args.traced]]
            entry["traced"] = [
                {
                    "seed": s,
                    "all_correct": r["correct"],
                    "pass_s": untraced[i],
                    "trace.pass_s": r["metrics"]["trace.pass_s"]["value"],
                    "overhead": r["metrics"]["trace.pass_s"]["value"] / untraced[i] - 1,
                    "metrics": {k: v["value"] for k, v in r["metrics"].items()},
                }
                for i, (s, r) in enumerate(zip(seeds, traced))
            ]
            print(w, "tracing overhead",
                  [round(t["overhead"], 3) for t in entry["traced"]], flush=True)
        record["workloads"][w] = entry
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
