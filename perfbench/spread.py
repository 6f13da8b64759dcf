"""Run-to-run noise of the benchmark: run one workload over several seeds
and report, per metric, the median, the quartiles and the spread
(interquartile distance as a share of the median).

    python3 perfbench/spread.py --workload live --seeds 1-10 --seconds 20
    python3 perfbench/spread.py --workload curate --seeds 1-10 --seconds 20 \\
        --out perfbench/NOISE.json

Runs are sequential, from the repository root. ``--out`` merges the
summary into a JSON file keyed by workload, with the host stamp.
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


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else None,
        "values": values,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,9")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--out")
    args = p.parse_args(argv)
    sys.path.insert(0, HERE)
    import host

    stamp = host.stamp()
    per_metric: dict[str, list[float]] = {}
    walls, steals, bad = [], [], []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if result is None or not result["correct"]:
            bad.append(seed)
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        for name, m in result["metrics"].items():
            per_metric.setdefault(name, []).append(m["value"])
        record = os.path.join(ROOT, ".perfbench", "records", f"{args.workload}-seed{seed}-trace0.json")
        with open(record) as f:
            steals.append(json.load(f)["host"]["steal_s"])
        print(f"seed {seed}: {walls[-1]:.0f} s steal {steals[-1]:.1f} s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    stamp["loadavg_end"] = list(os.getloadavg())
    stamp["steal_s"] = host.steal_s() - stamp.pop("steal_s_start")
    out = {
        "seconds": args.seconds,
        "seeds": args.seeds,
        "host": stamp,
        "wall_s": walls,
        "steal_s": steals,
        "failed_seeds": bad,
        "metrics": {k: summary(v) for k, v in per_metric.items() if len(v) >= 2},
    }
    for k, s in out["metrics"].items():
        print(f"{k:40s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  spread {s['spread']:.3f}")
    if args.out:
        merged = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                merged = json.load(f)
        merged[args.workload] = out
        with open(args.out, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
