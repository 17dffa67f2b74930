"""Steadiness check: runs the benchmark in two sets of runs and reports, for
every end-to-end metric and workload, each set's median and quartiles and an
agree/disagree verdict against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--workloads relational,corpus,stream]
                                [--seed0 100] [--seconds S]

A metric agrees when, in each set, the spread between its first and third
quartile is within its bound as a share of the median, and the two sets'
medians differ by no more than the bound, in either direction. Every metric
is held to this, setup_s included. Seeds differ between all runs: set 1
uses seed0.., set 2 seed0+runs..
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one_run(workload, seed, seconds):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0 or not last.startswith("{"):
        raise SystemExit(f"{workload} seed {seed} failed (exit {r.returncode}):\n{r.stdout[-2000:]}")
    res = json.loads(last)
    if not res["correct"]:
        print(f"  {workload} seed {seed}: correctness FAILED ({res['failed']}/{res['attempted']})")
    return {k: v["value"] for k, v in res["metrics"].items()}


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    ok_all = True
    for w in workloads:
        sets = []
        for s in range(2):
            runs = [one_run(w, args.seed0 + s * args.runs + i, seconds) for i in range(args.runs)]
            sets.append(runs)
        print(f"== {w} ({args.runs} runs per set, {seconds:g} s each)")
        print(f"{'metric':<20} {'set':>3} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            meds = []
            verdict = "agree"
            for i, runs in enumerate(sets):
                q1, med, q3 = summary([r[name] for r in runs])
                spread = (q3 - q1) / med if med else float("inf")
                meds.append(med)
                if spread > bound:
                    verdict = "disagree (spread)"
                print(f"{name:<20} {i + 1:>3} {q1:>12.5g} {med:>12.5g} {q3:>12.5g} {spread:>8.3f} {bound:>6}")
            q1, med, q3 = summary([r[name] for runs in sets for r in runs])
            print(f"{name:<20} {'all':>3} {q1:>12.5g} {med:>12.5g} {q3:>12.5g} {(q3 - q1) / med:>8.3f} {bound:>6}")
            worse = (meds[1] - meds[0]) / meds[0] if lower else (meds[0] - meds[1]) / meds[0]
            if abs(worse) > bound:
                verdict = "disagree (median)"
            ok_all &= verdict == "agree"
            print(f"{'':<20} {'':>3} second median {'+' if worse >= 0 else ''}{worse * 100:.1f}% worse  -> {verdict}")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
