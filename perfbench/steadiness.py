#!/usr/bin/env python3
"""Run-to-run steadiness of the end-to-end metrics.

    python3 perfbench/steadiness.py --workloads text_mixed tables_words \\
        --seeds 1 2 3 4 5 --seconds 20 --out runs.jsonl

Runs ``perfbench/run.py`` once per (workload, seed), one after the other,
appends each result line to ``--out``, and prints per workload and metric
the median, the quartiles and the spread (interquartile distance over the
median, quartiles as ``statistics.quantiles(values, n=4)`` gives them).
``--summarize`` only re-reads ``--out`` files (several of them: one set of
runs each) and prints the same table per set.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_one(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {"workload": workload, "seed": seed, **res}


def summarize(rows: list) -> dict:
    """workload -> metric -> {median, q1, q3, spread, n}"""
    table = {}
    for r in rows:
        for name, m in r["metrics"].items():
            table.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    out = {}
    for w, metrics in table.items():
        for name, vals in metrics.items():
            if len(vals) < 2:  # no quartiles yet
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            out.setdefault(w, {})[name] = {
                "n": len(vals), "median": statistics.median(vals),
                "q1": q1, "q3": q3, "spread": (q3 - q1) / statistics.median(vals),
            }
    return out


def print_table(summary: dict, title: str) -> None:
    print(f"== {title}")
    for w, metrics in summary.items():
        for name, s in metrics.items():
            print(f"{w:<18} {name:<12} n={s['n']:<3} median={s['median']:<12.5g} "
                  f"q1={s['q1']:<12.5g} q3={s['q3']:<12.5g} spread={s['spread']:.4f}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", default=[])
    p.add_argument("--seeds", nargs="+", type=int, default=[])
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--out", nargs="+", required=True)
    p.add_argument("--summarize", action="store_true")
    a = p.parse_args()
    if not a.summarize:
        with open(a.out[0], "a") as f:
            for w in a.workloads:
                for s in a.seeds:
                    row = run_one(w, s, a.seconds)
                    f.write(json.dumps(row) + "\n")
                    f.flush()
                    print(w, s, json.dumps(row["metrics"]), flush=True)
    for path in a.out:
        with open(path) as f:
            print_table(summarize([json.loads(line) for line in f]), path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
