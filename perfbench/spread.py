"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload trickle --seeds 1-10 [--trace 0] [--record FILE]

For every metric: the median, the first and third quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread, the distance between
the quartiles as a share of the median. ``--record`` merges the summary
into a JSON record (``perfbench/baseline.json``) together with the host's
facts and the layer map; per-layer counts that read the same on every
seed are marked ``exact``.
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


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=False)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"seed {seed} failed ({out.returncode}):\n{out.stdout}\n{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None,
            "exact": len(set(values)) == 1,
            "values": values,
        }
    return out


def host_facts() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    commit = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=HERE
    ).stdout.strip() or None
    return {
        "nproc": os.cpu_count(),
        "ram_gib": round(mem_kb / 2**20, 1),
        "java": java.splitlines()[0] if java else None,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "engine_commit": commit,
    }


def record(path: str, workload: str, trace: int, seeds: str, summary: dict) -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench.layers import PER_LAYER

    rec = {}
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
    rec["host"] = host_facts()
    rec["layers"] = {
        name: {"layer": layer, "should_move": moves} for name, _, _, layer, moves in PER_LAYER
    }
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        why = {w["name"]: w["why"] for w in json.load(f)["workloads"]}
    entry = rec.setdefault("workloads", {}).setdefault(workload, {})
    entry["why"] = why.get(workload)
    entry["end_to_end" if trace == 0 else "per_layer"] = {"seeds": seeds, "metrics": summary}
    if trace:
        entry["exact_counts"] = sorted(
            k for k, v in summary.items() if v["exact"] and v["unit"] == "count"
        )
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--record")
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    runs = []
    for seed in seeds_of(args.seeds):
        t = time.perf_counter()
        runs.append(run_once(args.workload, seed, seconds, args.trace))
        print(f"seed {seed}: correct={runs[-1]['correct']} "
              f"wall {time.perf_counter() - t:.1f}s", file=sys.stderr, flush=True)
    summary = summarize(runs)
    for name, s in summary.items():
        spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{args.workload:10s} {name:40s} median {s['median']:.6g} {s['unit']:6s} spread {spread}"
              f"  [{' '.join(f'{v:.4g}' for v in s['values'])}]")
    if args.record:
        record(args.record, args.workload, args.trace, args.seeds, summary)
    return 0


if __name__ == "__main__":
    sys.exit(main())
