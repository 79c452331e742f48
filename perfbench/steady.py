#!/usr/bin/env python3
"""Check that the benchmark is steady enough for its bounds.

    python3 perfbench/steady.py --workload NAME --seeds 1,2,3,...    [--trace 1]

Runs perfbench/run.py once per seed (run_seconds from BENCHMARK.json) and
prints, per metric, the median and the distance between the first and third
quartile as a share of the median, next to the metric's bound. With --trace 1
it instead lists which per-layer metrics read exactly the same in every run;
give the same seed twice to see which counters repeat.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write every run's result line to this file")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = []
    for seed in [int(s) for s in a.seeds.split(",")]:
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited {p.returncode}\n{p.stderr[-3000:]}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(result)
        print(f"seed {seed}: {time.time() - t0:.1f} s wall, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}", flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        same = [n for n in names if len({r["metrics"][n]["value"] for r in runs}) == 1]
        print(f"{len(same)} of {len(names)} per-layer metrics repeat exactly:")
        print("  " + " ".join(same))
        return
    print(f"{'metric':16s} {'median':>10s} {'iqr/median':>10s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for r in runs]
        share = metrics.iqr_share(xs) if len(xs) >= 2 else 0.0
        flag = "" if share <= m["bound"] / 3 else ("  > bound/3" if share <= m["bound"] else "  > bound")
        print(f"{m['name']:16s} {metrics.median(xs):10.4f} {share:10.3f} {m['bound']:6.2f}{flag}")


if __name__ == "__main__":
    main()
