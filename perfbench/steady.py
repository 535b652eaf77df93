#!/usr/bin/env python3
"""Steadiness check: run sets of benchmark runs of one checkout and compare.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --workloads clip_families --runs 5 --sets 1
    python3 perfbench/steady.py --runs 10 --sets 1 --traced 2

Each run is the BENCHMARK.json command with its own seed (set k, run r uses
seed ``--seed-base + k * runs + r``); workloads alternate within a round so
host drift lands on all of them.  For every workload x end-to-end metric it
prints each set's median and quartiles, the spread (quartile distance over
the median) and whether the sets agree within the metric's bound: every
spread but setup_s's within the bound, and no later set's median worse than
the first set's by more than the bound.  Over all sets pooled it also
prints the highest percentile with at least ten runs beyond it, and the
run count.  ``--traced N`` adds N traced runs
per workload and reports the tracing overhead against the untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import percentile, quartiles, supported_percentile, worse_by  # noqa: E402


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def agreement(spec: dict, sets: list[list[dict]], workload: str) -> list[dict]:
    rows = []
    for m in spec["end_to_end"]:
        per_set = [[r["result"]["metrics"][m["name"]]["value"] for r in runs
                    if r["workload"] == workload] for runs in sets]
        stats = [quartiles(v) for v in per_set]
        spreads = [(q3 - q1) / med for q1, med, q3 in stats]
        shifts = [worse_by(stats[0][1], s[1], m["better"]) for s in stats[1:]]
        pooled = [v for vals in per_set for v in vals]
        tail = supported_percentile(len(pooled))
        ok_spread = m["name"] == "setup_s" or all(s <= m["bound"] for s in spreads)
        ok_shift = all(s <= m["bound"] for s in shifts)
        rows.append({"metric": m["name"], "unit": m["unit"], "bound": m["bound"],
                     "quartiles": stats, "spreads": spreads, "shifts": shifts,
                     "n": len(pooled),
                     "tail": None if tail is None else [tail, percentile(pooled, tail)],
                     "agree": ok_spread and ok_shift,
                     "within_third": all(s < m["bound"] / 3 for s in spreads)})
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=None)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=None, help="also write every run's output here (JSON)")
    args = ap.parse_args()
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    if args.runs < 2:
        raise SystemExit("--runs must be at least 2 for quartiles")

    sets: list[list[dict]] = []
    for k in range(args.sets):
        runs = []
        for r in range(args.runs):
            for w in workloads:
                res = run_once(spec, w, args.seed_base + k * args.runs + r, 0)
                print(f"set {k} run {r} {w} seed {res['seed']}: {res['wall_s']:.1f} s, "
                      f"correct={res['result']['correct']} "
                      + " ".join(f"{n}={v['value']:.4g}" for n, v in res["result"]["metrics"].items()),
                      flush=True)
                runs.append(res)
        sets.append(runs)
    traced = [run_once(spec, w, args.seed_base + 1000 + r, 1)
              for r in range(args.traced) for w in workloads]

    report = {"workloads": {}, "runs": sets, "traced": traced}
    for w in workloads:
        rows = agreement(spec, sets, w)
        report["workloads"][w] = rows
        print(f"\n{w}")
        for row in rows:
            qs = "  ".join(f"{med:.4g} [{q1:.4g}, {q3:.4g}] spread {s:.3f}"
                           for (q1, med, q3), s in zip(row["quartiles"], row["spreads"]))
            shift = " ".join(f"{s:+.3f}" for s in row["shifts"])
            tail = f"p{row['tail'][0]:g}={row['tail'][1]:.4g}" if row["tail"] else "no percentile"
            print(f"  {row['metric']:16s} {qs}  shift {shift or '-'}  bound {row['bound']}"
                  f"  agree={row['agree']} spread<bound/3={row['within_third']}"
                  f"  n={row['n']} {tail}")
        tr = [t for t in traced if t["workload"] == w]
        if tr:
            for m in spec["end_to_end"]:
                name = f"traced.{m['name']}"
                vals = [t["result"]["metrics"][name]["value"] for t in tr
                        if name in t["result"]["metrics"]]
                base = statistics.median(r["result"]["metrics"][m["name"]]["value"]
                                         for runs in sets for r in runs if r["workload"] == w)
                if vals:
                    over = worse_by(base, statistics.median(vals), m["better"])
                    print(f"  tracing overhead {m['name']}: {over:+.3f} of the untraced median")
    all_correct = all(r["result"]["correct"] for runs in sets for r in runs) and all(
        t["result"]["correct"] for t in traced)
    print(f"\nall runs correct: {all_correct}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
