#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds and report, per
workload and end-to-end metric, the median and the spread (distance between
the first and third quartile as a share of the median), next to the bound in
BENCHMARK.json.

    python3 perfbench/steadiness.py [--workloads kg_broadcast,kg_salted]
        [--seeds 1-10] [--seconds N] [--out perfbench/results/steady.json]

Run from the repository root. Each run's result line is kept in the output
file, so a second set of runs can be compared with the first:

    python3 perfbench/steadiness.py --compare A.json B.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def spread(vals):
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / statistics.median(vals)


def summarize(bench, runs):
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    rows = []
    for wl, rs in sorted(runs.items()):
        ok = [r for r in rs if r is not None]
        fails = {(r["failed"], r["attempted"]) for r in ok}
        print(f"{wl}: {len(ok)}/{len(rs)} runs, all correct: "
              f"{all(r['correct'] for r in ok)}, failed/attempted: "
              f"{sorted(fails)[:3]}")
        for name, m in bounds.items():
            vals = [r["metrics"][name]["value"] for r in ok]
            if len(vals) < 4:
                continue
            sp = spread(vals)
            med = statistics.median(vals)
            flag = "" if name == "setup_s" or sp <= m["bound"] / 3 else \
                ("  WIDE" if sp > m["bound"] else "  over a third")
            print(f"  {name:22s} median {med:12.4f} {m['unit']:10s} spread "
                  f"{sp:6.3f} bound {m['bound']:.2f}{flag}")
            rows.append((wl, name, med, sp))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "steady.json"))
    ap.add_argument("--compare", nargs=2, default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.compare:
        sets = []
        for p in a.compare:
            with open(p) as f:
                sets.append(json.load(f))
        for wl in sorted(sets[0]):
            for m in bench["end_to_end"]:
                meds = [statistics.median(r["metrics"][m["name"]]["value"]
                                          for r in s[wl] if r) for s in sets]
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                print(f"{wl:14s} {m['name']:22s} {meds[0]:12.4f} -> "
                      f"{meds[1]:12.4f} worse by {worse:+.3f} (bound {m['bound']})")
        return
    wls = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in bench["workloads"]]
    secs = a.seconds or bench["run_seconds"]
    runs = {w: [] for w in wls}
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    for seed in seeds_of(a.seeds):
        for wl in wls:
            t0 = time.time()
            p = subprocess.run(bench["command"] + [
                "--workload", wl, "--seed", str(seed), "--seconds", str(secs),
                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL, text=True)
            res = None
            if p.returncode == 0 and p.stdout.strip():
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1])
                # the run's info line (build times, /ner rate), kept for
                # reading the spread; the summaries use only "metrics"
                if len(lines) > 1:
                    res["info"] = json.loads(lines[-2]).get("info")
            runs[wl].append(res)
            print(f"{wl} seed {seed}: exit {p.returncode} in "
                  f"{time.time() - t0:.1f} s", file=sys.stderr)
            with open(a.out, "w") as f:
                json.dump(runs, f)
    summarize(bench, runs)


if __name__ == "__main__":
    main()
