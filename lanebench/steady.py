#!/usr/bin/env python3
"""Steadiness check: run workloads on several seeds and report each
end-to-end metric's median and spread (quartile distance / median).

    python3 lanebench/steady.py --workloads a,b --seeds 1-10 [--trace 0]
                                [--seconds 10] [--out FILE]

Run from the checkout root. Each run's wall time, result line and the
spread table are written to --out as JSON.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    report = {"started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "runs": [], "summary": {}}
    for w in args.workloads.split(","):
        values = {}
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            report["runs"].append({"workload": w, "seed": seed, "wall_s": wall,
                                   "rc": proc.returncode, "result": result,
                                   "drift_probe": json.loads(lines[-2]) if len(lines) > 1 else None})
            if result is None:
                print("%s seed %d failed (rc %d): %s" % (w, seed, proc.returncode,
                                                         proc.stderr[-2000:]), flush=True)
                continue
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print("%s seed %d: %.1f s, correct=%s %s" % (
                w, seed, wall, result["correct"],
                {k: round(m["value"], 4) for k, m in result["metrics"].items()}), flush=True)
        summary = {}
        for k, vs in values.items():
            summary[k] = {"n": len(vs), "median": stats.median(vs),
                          "spread": stats.spread(vs) if len(vs) >= 2 else None}
            print("  %-24s median %-14.6g spread %s" % (k, summary[k]["median"], summary[k]["spread"]))
        report["summary"][w] = summary
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
