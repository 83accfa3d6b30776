"""Run the untraced benchmark on several seeds per workload and report each
end-to-end metric's spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median.

    python3 perfbench/steadiness.py --seeds 10 --first-seed 100 \\
        --out perfbench/steadiness.json

Run it from the root of a checkout. Each run is a separate process, as
the benchmark's own runs are. ``--compare earlier.json`` also reports, per
metric, how far this set's median is from the earlier set's, as a share
of the earlier median (positive is worse).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--compare", type=Path)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    names = args.workload or [w["name"] for w in spec["workloads"]]
    earlier = json.loads(args.compare.read_text())["workloads"] if args.compare else {}
    report: dict = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for name in names:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [*spec["command"], "--workload", name, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(proc.stdout[-2000:], proc.stderr[-4000:], file=sys.stderr)
                raise SystemExit(f"{name} seed {seed} exited {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            result["seed"], result["run_wall_s"] = seed, wall
            runs.append(result)
            print(f"{name} seed {seed}: {wall:.1f} s, correct={result['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
        metrics = {}
        for metric in bounds:
            values = [r["metrics"][metric]["value"] for r in runs]
            s = spread(values)
            entry = {
                "median": statistics.median(values),
                "spread": s,
                "bound": bounds[metric]["bound"],
                "within_third_of_bound": s < bounds[metric]["bound"] / 3,
                "values": values,
            }
            if name in earlier:
                old = earlier[name]["metrics"][metric]["median"]
                worse = (entry["median"] - old) / old
                entry["median_change_vs_earlier"] = worse if better[metric] == "lower" else -worse
            metrics[metric] = entry
        report["workloads"][name] = {
            "seeds": [r["seed"] for r in runs],
            "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
            "run_wall_s": [r["run_wall_s"] for r in runs],
            "metrics": metrics,
        }
        args.out.write_text(json.dumps(report, indent=1) + "\n")
    for name, w in report["workloads"].items():
        for metric, e in w["metrics"].items():
            extra = f", median change {e['median_change_vs_earlier']:+.3f}" if "median_change_vs_earlier" in e else ""
            print(f"{name:12s} {metric:12s} median {e['median']:.4g} spread {e['spread']:.3f} (bound {e['bound']}){extra}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
