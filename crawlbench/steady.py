"""Steadiness command: run the workloads alternately, one seed per round,
and print the median and quartiles of every end-to-end metric.

    python3 crawlbench/steady.py --runs 10 [--seed0 100] [--trace-pairs 3] [--out FILE]

The spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median; it is what
the bounds in BENCHMARK.json are set from.  ``--trace-pairs K`` then runs K
pairs of a traced and an untraced job per workload on one seed each, in
alternating order, and reports the tracing overhead as the median of traced
``job_s`` minus untraced ``job_s`` over the pairs: back-to-back pairs keep
host drift, which moves every run of a set, out of the difference.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("recrawl", "publish")


def run_once(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "40", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    log = [ln for ln in proc.stderr.splitlines() if ln.startswith("# run ")]
    if proc.returncode != 0 or not proc.stdout.strip():
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["log"] = json.loads(log[-1][len("# run "):]) if log else {}
    return res


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--trace-pairs", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    runs: dict[str, list[dict]] = {w: [] for w in WORKLOADS}
    for i in range(args.runs):
        order = WORKLOADS if i % 2 == 0 else WORKLOADS[::-1]
        for w in order:
            r = run_once(w, args.seed0 + i, 0)
            runs[w].append(r)
            vals = {k: round(v["value"], 3) for k, v in r["metrics"].items()}
            print(f"{w} seed={args.seed0 + i} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals} "
                  f"host={r['log'].get('host')}", flush=True)

    report: dict = {}
    for w, rs in runs.items():
        metrics = sorted(rs[0]["metrics"])
        report[w] = {
            "correct": all(r["correct"] for r in rs),
            "failed_share": sorted({r["failed"] / r["attempted"] for r in rs}),
            "metrics": {m: summary([r["metrics"][m]["value"] for r in rs])
                        for m in metrics},
        }
        pairs, traced_runs = [], []
        for k in range(args.trace_pairs):
            seed = args.seed0 + 1000 + k
            first, second = (1, 0) if k % 2 == 0 else (0, 1)
            a, b = run_once(w, seed, first), run_once(w, seed, second)
            traced, plain = (a, b) if first else (b, a)
            traced_runs.append(traced)
            pairs.append({"seed": seed, "correct": traced["correct"] and plain["correct"],
                          "traced_job_s": traced["metrics"]["trace.job_s"]["value"],
                          "job_s": plain["metrics"]["job_s"]["value"],
                          "sum_error": traced["metrics"]["trace.sum_error"]["value"]})
            print(f"{w} trace pair {pairs[-1]}", flush=True)
        if pairs:
            diffs = [p["traced_job_s"] - p["job_s"] for p in pairs]
            report[w]["trace"] = {
                "pairs": pairs, "traced_runs": traced_runs,
                "overhead_s": statistics.median(diffs),
                "overhead_share": statistics.median(
                    d / p["job_s"] for d, p in zip(diffs, pairs)),
            }

    for w, rep in report.items():
        print(f"\n{w}: correct={rep['correct']} failed_share={rep['failed_share']}")
        for m, s in rep["metrics"].items():
            print(f"  {m:15s} median {s['median']:12.3f}  q1 {s['q1']:12.3f}  "
                  f"q3 {s['q3']:12.3f}  spread {s['spread']:.4f}")
        if "trace" in rep:
            t = rep["trace"]
            print(f"  trace overhead: median {t['overhead_s']:.3f} s "
                  f"({t['overhead_share']:.4f}) over {len(t['pairs'])} pairs; "
                  f"max sum_error {max(p['sum_error'] for p in t['pairs']):.2e}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "report": report}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
