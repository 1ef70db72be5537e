"""Run every workload on sets of seeds and record how steady each metric is.

    python3 perfbench/steadiness.py --seeds 1-10 --seeds 11-20 \
        --out perfbench/records/steadiness.json

Each ``--seeds`` range is one set: every workload in ``BENCHMARK.json`` runs
once per seed, one run at a time. For each set, workload and end-to-end
metric the record holds the values of every run, their median and quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance between
the quartiles as a share of the median. For each pair of consecutive sets it
holds the shift, how far the second median lies from the first as a share
of the first, beside the metric's bound. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {
        "values": values,
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else None,
    }


def run_set(bench: dict, spec: str) -> dict:
    out = {"seeds": spec, "workloads": {}}
    for w in bench["workloads"]:
        name, runs = w["name"], []
        for seed in seeds(spec):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else None
            runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall, "result": result})
            print(f"{name} seed {seed}: exit {p.returncode} in {wall:.1f} s: "
                  f"{lines[-1] if lines else p.stderr[-400:]}", file=sys.stderr, flush=True)
        ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
        out["workloads"][name] = {
            "runs": runs,
            "correct": len(ok),
            "wall_s": summarize([r["wall_s"] for r in runs]) if len(runs) >= 2 else None,
            "metrics": {
                m["name"]: summarize([r["metrics"][m["name"]]["value"] for r in ok])
                for m in bench["end_to_end"]
            } if len(ok) >= 2 else {},
        }
    return out


def agreement(bench: dict, a: dict, b: dict) -> dict:
    """Per workload and metric: both spreads, both medians and the shift of
    the second median from the first, signed so that positive is worse."""
    out = {}
    for m in bench["end_to_end"]:
        sign = 1 if m["better"] == "lower" else -1
        for name, wa in a["workloads"].items():
            sa, sb = wa["metrics"].get(m["name"]), b["workloads"][name]["metrics"].get(m["name"])
            if not (sa and sb):
                continue
            out.setdefault(name, {})[m["name"]] = {
                "bound": m["bound"],
                "median_1": sa["median"],
                "median_2": sb["median"],
                "worse_by": sign * (sb["median"] - sa["median"]) / sa["median"],
                "spread_1": sa["spread"],
                "spread_2": sb["spread"],
            }
    return out


def main(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", action="append", required=True,
                    help="an inclusive seed range such as 1-10; repeat for more sets")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    record = {
        "host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine()},
        "run_seconds": bench["run_seconds"],
        "sets": [run_set(bench, spec) for spec in args.seeds],
    }
    sets = record["sets"]
    record["agreement"] = [
        {"sets": [i + 1, i + 2], "metrics": agreement(bench, sets[i], sets[i + 1])}
        for i in range(len(sets) - 1)
    ]
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    for i, s in enumerate(sets, 1):
        for name, w in s["workloads"].items():
            for m, v in w["metrics"].items():
                print(f"set {i} {name:16s} {m:18s} median {v['median']:.4f} spread {v['spread']:.3f}")
    for agr in record["agreement"]:
        for name, ms in agr["metrics"].items():
            for m, v in ms.items():
                print(f"sets {agr['sets']} {name:16s} {m:18s} worse by {v['worse_by']:+.3f} "
                      f"(bound {v['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
