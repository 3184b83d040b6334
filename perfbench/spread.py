#!/usr/bin/env python3
"""Run perfbench over several seeds and report each metric's spread.

    python3 perfbench/spread.py --seeds 1-10 --trace 0 --out .perfbench/spread.json

Runs every workload of BENCHMARK.json for ``run_seconds`` with each seed.
For every workload and metric it reports the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the quartile distance
as a share of the median, next to the metric's bound from BENCHMARK.json.
Traced runs also carry their end-to-end values in the report line, so
``--trace 1 --compare-to <untraced summary>`` gives the tracing overhead.
Runs go one at a time, alternating workloads, each in its own process.
The summary embeds ``bench.host_calibration_block()`` (taken before and
after the whole set) as context; no metric is normalized by it.
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


def seed_list(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def summarize(values: list[float], bound: float | None) -> dict:
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4) if len(values) >= 2 else [med, med, med]
    share = (q[2] - q[0]) / med if med else float("inf")
    out = {"n": len(values), "median": med, "q1": q[0], "q3": q[2],
           "iqr_share": share, "values": values}
    if bound is not None:
        out.update(bound=bound, within_third=share < bound / 3)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", default=None,
                    help="comma-separated subset of BENCHMARK.json's workloads")
    ap.add_argument("--out", default=None)
    ap.add_argument("--compare-to", default=None,
                    help="an earlier summary; reports each end-to-end median's "
                         "change against it (e.g. traced against untraced)")
    args = ap.parse_args()
    base = None
    if args.compare_to:
        with open(args.compare_to) as f:
            base = json.load(f)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        names = [w for w in names if w in args.workloads.split(",")]
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    sys.path.insert(0, ROOT)
    import bench as repo_bench

    _before, cal_finalize = repo_bench.host_calibration_block()

    runs: dict[str, list[dict]] = {w: [] for w in names}
    for seed in seed_list(args.seeds):
        for w in names:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(args.trace)]
            t = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t
            lines = proc.stdout.strip().splitlines()
            last = json.loads(lines[-1]) if lines else {}
            report = json.loads(lines[-2])["perfbench_report"] if len(lines) > 1 else {}
            runs[w].append({"seed": seed, "exit": proc.returncode, "wall_s": wall,
                            "result": last, "e2e": report.get("e2e", {})})
            vals = {k: round(v["value"], 4) for k, v in last.get("metrics", {}).items()}
            print(f"{w} seed={seed} exit={proc.returncode} wall={wall:.1f}s "
                  f"correct={last.get('correct')} {vals}", flush=True)

    summary: dict = {"seconds": seconds, "trace": args.trace, "workloads": {}}
    for w, rs in runs.items():
        ok = [r for r in rs if r["exit"] == 0]
        metrics = sorted({k for r in ok for k in r["result"]["metrics"]})
        summary["workloads"][w] = {
            "runs": len(rs), "ok": len(ok),
            "wall_s": summarize([r["wall_s"] for r in rs], None),
            "metrics": {
                k: summarize([r["result"]["metrics"][k]["value"] for r in ok],
                             bounds.get(k) if not args.trace else None)
                for k in metrics
            },
            "e2e_median": {
                k: statistics.median(r["e2e"][k] for r in ok)
                for k in bounds if ok and all(k in r["e2e"] for r in ok)
            },
        }
        if base:
            summary["workloads"][w]["e2e_vs_baseline"] = {
                k: v / base["workloads"][w]["e2e_median"][k] - 1.0
                for k, v in summary["workloads"][w]["e2e_median"].items()
                if base["workloads"].get(w, {}).get("e2e_median", {}).get(k)
            }
    summary["host_calibration"] = cal_finalize()
    text = json.dumps(summary, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    for w, s in summary["workloads"].items():
        print(f"== {w}: {s['ok']}/{s['runs']} ok, wall median {s['wall_s']['median']:.1f}s")
        for k, m in s["metrics"].items():
            print(f"   {k:32s} median={m['median']:.4g} iqr_share={m['iqr_share']:.3f}"
                  + (f" bound={m['bound']}" if m.get("bound") is not None else ""))
    return 0 if all(s["ok"] == s["runs"] for s in summary["workloads"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
