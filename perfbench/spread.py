#!/usr/bin/env python3
"""Measure the run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workload NAME ...] [--out FILE]

Runs perfbench/run.py once per seed (seeds 1..runs) for each workload with
the window from BENCHMARK.json, then prints, per metric, the median and the
interquartile range as a share of the median (statistics.quantiles, n=4),
next to a third of the metric's bound. Run it from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", help="append every run's result line to this file")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = a.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in names:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=subprocess.DEVNULL, text=True)
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if out.returncode != 0 or not line:
                print(f"{w} seed {seed}: run failed (exit {out.returncode})")
                ok = False
                continue
            r = json.loads(line)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, **r}) + "\n")
            if not r["correct"] or r["failed"]:
                ok = False
                print(f"{w} seed {seed}: correct={r['correct']} failed={r['failed']}")
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            limit = bounds[k] / 3
            flag = "" if spread < limit or k == "setup_s" else "  <-- above bound/3"
            ok = ok and (flag == "")
            print(f"{w:15s} {k:12s} median {med:12.4f}  spread {spread:.4f}  "
                  f"(bound/3 {limit:.4f}){flag}")
        sys.stdout.flush()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
