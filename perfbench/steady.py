"""Steadiness check: runs one workload repeatedly, prints each end-to-end
metric's median and quartiles, and checks the spread against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload portal_etl --runs 10 [--batches 2]

Run i of a batch uses seed i + 1. The spread is (Q3 - Q1) / median with
quartiles from statistics.quantiles(n=4); it must stay within the bound
for every metric. With two batches, the two medians must differ by no more
than the bound (as a share of the first batch's median, in either
direction), and the share of failed operations must be the same. Each run's noise record (CPU steal share,
canary time) is printed next to it, so a contaminated run shows.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.exit(f"run failed (seed {seed}, code {r.returncode})")
    return json.loads(lines[-2])["noise"], json.loads(lines[-1])


def batch(workload, runs, seconds):
    out = []
    for i in range(runs):
        noise, res = run_once(workload, i + 1, seconds)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"  seed {i + 1}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              f"steal={noise['steal_share']:.3f} canary={[round(c, 3) for c in noise['canary_s']]} "
              f"rounds={[round(x, 2) for x in noise['round_s']]} "
              f"setup_wall={noise['setup_wall_s']:.1f}s "
              f"wall={noise['wall_s']:.0f}s {vals}", flush=True)
        out.append(res)
    return out


def summarize(results, bench):
    """metric -> (median, q1, q3, spread) and the failed share."""
    stats = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        stats[m["name"]] = (med, q1, q3, (q3 - q1) / med if med else float("inf"))
    shares = {r["failed"] / r["attempted"] for r in results}
    return stats, shares


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--batches", type=int, default=1, choices=(1, 2))
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    medians = []
    for b in range(a.batches):
        print(f"batch {b + 1}: {a.workload}, {a.runs} runs")
        results = batch(a.workload, a.runs, a.seconds or bench["run_seconds"])
        stats, shares = summarize(results, bench)
        if len(shares) != 1 or not all(r["correct"] for r in results):
            ok = False
        print(f"  failed share {sorted(shares)}")
        for m in bench["end_to_end"]:
            med, q1, q3, spread = stats[m["name"]]
            flag = "ok" if spread <= m["bound"] else "TOO WIDE"
            ok &= flag == "ok"
            print(f"  {m['name']:>14} median {med:10.4f} {m['unit']:<3} q1 {q1:10.4f} q3 {q3:10.4f} "
                  f"spread {spread:6.3f} bound {m['bound']} {flag}"
                  + ("" if spread < m["bound"] / 3 else " (above a third of the bound)"))
        medians.append((stats, shares))
    if a.batches == 2:
        (s1, f1), (s2, f2) = medians
        ok &= f1 == f2
        for m in bench["end_to_end"]:
            change = (s2[m["name"]][0] - s1[m["name"]][0]) / s1[m["name"]][0]
            agree = abs(change) <= m["bound"]
            ok &= agree
            print(f"  {m['name']:>14} second vs first median {change:+.3f} "
                  f"{'ok' if agree else 'APART BY MORE THAN THE BOUND'}")
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
