#!/usr/bin/env python3
"""A/A check: two sets of runs of the same commit must agree.

Usage: python3 perfbench/aa.py [--runs 10] [--workloads relational,pipeline,ingest]

Runs perfbench/run.py `--runs` times per set and workload, each run with its
own seed (set A: 1..N, set B: N+1..2N), at BENCHMARK.json's run_seconds.
For every end-to-end metric it prints each set's median and quartiles, the
spread (interquartile distance over the median) and whether the metric is
within its bound: spread within the bound (setup_s excepted) and set B's
median not worse than set A's by more than the bound. The share of failed
queries must be the same in both sets. Exits 1 if anything is out of bounds.
Before running anything it fails on a workload that names a query the
engine does not have.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import engine  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def one_run(workload, seed, seconds):
    res = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if res.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def main():
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()

    build.build()
    run.validate(engine.catalog())
    ok = True
    for w in a.workloads.split(","):
        sets = [[one_run(w, s * a.runs + i + 1, spec["run_seconds"])
                 for i in range(a.runs)] for s in (0, 1)]
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                  for rs in sets]
        wrong = [r for rs in sets for r in rs if not r["correct"]]
        print(f"{w}: failed share A={shares[0]:.4f} B={shares[1]:.4f}, "
              f"incorrect runs {len(wrong)}")
        ok &= shares[0] == shares[1] and not wrong
        for m in spec["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            quarts = [statistics.quantiles(v, n=4) for v in vals]
            spreads = [stats.spread(v) for v in vals]
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (meds[1] - meds[0]) / meds[0]
            fits = drift <= m["bound"] and (
                m["name"] == "setup_s" or max(spreads) <= m["bound"])
            ok &= fits
            print(f"  {m['name']:<14} " + "  ".join(
                f"{tag}: med {med:.4g} q1 {q[0]:.4g} q3 {q[2]:.4g} spread {sp:.3f}"
                for tag, med, q, sp in zip("AB", meds, quarts, spreads)) +
                f"  drift {drift:+.3f} bound {m['bound']} "
                f"{'ok' if fits else 'OUT OF BOUND'}")
            for tag, v in zip("AB", vals):
                print(f"    {tag} runs: " + " ".join(f"{x:.4g}" for x in v))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
