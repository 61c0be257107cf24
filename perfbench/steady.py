#!/usr/bin/env python3
"""Steadiness tool: run each workload N times, one seed per run, and print
each metric's median, quartiles, min, max and spread (inter-quartile
distance as a share of the median, the figure a metric's bound is set
from).

    python3 perfbench/steady.py --runs 10 --seconds 10 --out set1.json
    python3 perfbench/steady.py --runs 10 --seconds 10 --against set1.json

``--against`` also prints how far each median moved from an earlier set,
and refuses to compare sets taken at different core counts.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402
import workloads  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int, extra: list[str]) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    t = time.monotonic()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    info = json.loads(lines[-2].split(" ", 1)[1])
    return {"seed": seed, "wall_s": wall, "info": info, "result": json.loads(lines[-1])}


def summarize(runs: list[dict]) -> dict[str, dict[str, float]]:
    values: dict[str, list[float]] = {}
    for r in runs:
        for name, m in r["result"]["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    values["run_wall_s"] = [r["wall_s"] for r in runs]
    out = {}
    for name, v in values.items():
        q1, med, q3 = measure.quartiles(v)
        out[name] = {"median": med, "q1": q1, "q3": q3, "min": min(v), "max": max(v),
                     "spread": measure.spread(v)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(workloads.WORKLOADS))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="save every run and the summary as JSON")
    ap.add_argument("--against", help="a file saved by --out to compare medians with")
    args, extra = ap.parse_known_args(argv)

    prior = None
    if args.against:
        with open(args.against) as f:
            prior = json.load(f)
    saved = {"cpus": None, "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = run_once(w, args.first_seed + i, args.seconds, args.trace, extra)
            runs.append(r)
            cpus = r["info"]["cpus"]
            if saved["cpus"] not in (None, cpus):
                raise SystemExit("runs in one set used different core counts")
            saved["cpus"] = cpus
            print(f"{w} seed {r['seed']}: {r['wall_s']:.1f} s, correct={r['result']['correct']}"
                  f", load {r['info']['loadavg_start'][0]:.2f}->{r['info']['loadavg_end'][0]:.2f}",
                  flush=True)
        summary = summarize(runs)
        saved["workloads"][w] = {"runs": runs, "summary": summary}
        print(f"\n{w}: {args.runs} runs at {saved['cpus']} cpus")
        print(f"{'metric':34s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'min':>10s} {'max':>10s} {'spread':>7s}")
        for name, s in summary.items():
            print(f"{name:34s} {s['median']:10.4g} {s['q1']:10.4g} {s['q3']:10.4g} "
                  f"{s['min']:10.4g} {s['max']:10.4g} {s['spread']:7.3f}")
        if prior and w in prior["workloads"]:
            if prior["cpus"] != saved["cpus"]:
                raise SystemExit(f"refusing to compare: {prior['cpus']} cpus vs {saved['cpus']}")
            print(f"\n{w}: median change against {args.against}")
            for name, s in summary.items():
                before = prior["workloads"][w]["summary"].get(name, {}).get("median")
                if before:
                    print(f"{name:34s} {s['median'] / before - 1.0:+8.3f}")
        print(flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(saved, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
