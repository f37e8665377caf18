#!/usr/bin/env python3
"""Interleaved A/B of the JDBC layer benchmark (layerbench/run.py) between
two checkouts.

    python3 scripts/ab_layerbench.py <checkout_a> <checkout_b> \\
        --workload jdbc_small --seeds 201 202 203 [--out runs.jsonl]

Each seed runs once per side with --trace 0, each side in its own checkout
(the benchmark builds what it runs from that checkout's source). The sides
alternate, and so does which side runs first (A,B for the first seed, B,A
for the next), so host drift hits both alike. The run length and the
metrics with their "better" directions come from side A's BENCHMARK.json.
It prints, per end-to-end metric, each side's median over the seeds, the
distance between side A's quartiles, the ratio B/A, whether B is better and
in how many pairs B won. A run that
exits non-zero, reports "correct": false or has failed ops is flagged and
left out. --out appends every run's result object as one JSON line.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("layerbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result


def problem(rc, result):
    if rc != 0 or result is None:
        return f"exit {rc}, no result" if result is None else f"exit {rc}"
    if not result.get("correct") or result.get("failed", 0):
        return (f"correct: {str(result.get('correct')).lower()}, "
                f"failed {result.get('failed')} of {result.get('attempted')}")
    return None


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("a", help="side A checkout (e.g. the parent commit)")
    p.add_argument("b", help="side B checkout (e.g. the change)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--out", help="append each run's result here (JSON lines)")
    args = p.parse_args()

    with open(os.path.join(args.a, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    sides = (("A", args.a), ("B", args.b))
    values = {s: {} for s, _ in sides}  # side -> metric -> {seed: value}
    flagged = []
    for n, seed in enumerate(args.seeds):
        for side, checkout in sides[::-1] if n % 2 else sides:
            rc, result = run_one(checkout, args.workload, seed,
                                 bench["run_seconds"])
            bad = problem(rc, result)
            print(f"seed {seed} side {side}: {bad or 'ok'}", file=sys.stderr)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "rc": rc,
                                        "result": result}) + "\n")
            if bad:
                flagged.append(f"seed {seed} side {side}: {bad}")
                continue
            for name, m in result["metrics"].items():
                values[side].setdefault(name, {})[seed] = m["value"]

    print(f"{args.workload}, seeds {' '.join(map(str, args.seeds))}, "
          f"A={args.a}, B={args.b}")
    print(f"{'metric':28s} {'A_med':>10s} {'B_med':>10s} {'A_iqr':>10s} "
          f"{'B/A':>7s} {'B_better':>8s} {'B_won':>7s}")
    for name, direction in better.items():
        a = values["A"].get(name, {})
        b = values["B"].get(name, {})
        pairs = [(a[s], b[s]) for s in args.seeds if s in a and s in b]
        if not pairs:
            print(f"{name:28s} {'-':>10s} {'-':>10s} {'-':>10s} {'-':>7s} "
                  f"{'-':>8s} {'-':>7s}")
            continue

        def wins(x, y):
            return y < x if direction == "lower" else y > x
        ma = statistics.median(a.values())
        mb = statistics.median(b.values())
        q = statistics.quantiles(a.values(), n=4) if len(a) > 1 else [0, 0, 0]
        ratio = f"{mb / ma:.3f}" if ma else "-"
        won = sum(wins(x, y) for x, y in pairs)
        print(f"{name:28s} {ma:10.4g} {mb:10.4g} {q[2] - q[0]:10.4g} "
              f"{ratio:>7s} "
              f"{'yes' if wins(ma, mb) else 'no':>8s} "
              f"{f'{won}/{len(pairs)}':>7s}")
    for line in flagged:
        print("FLAGGED " + line)
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
