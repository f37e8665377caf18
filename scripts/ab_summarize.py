#!/usr/bin/env python3
"""Summarize an ab_bench.sh output directory: per query, per side, the
MINIMUM over every rep of every round (the quiet-host bound — both
sides saw the same windows because runs interleave at query level),
plus medians and the min-ratio B/A. Reads the bench file artifacts'
reps_detail (raw per-rep times; -1 = rep threw, excluded)."""
import json, re, sys, pathlib, statistics

def main(outdir, la, lb):
    d = pathlib.Path(outdir)
    data = {}  # q -> side -> [times]
    # Longer label first, both escaped: with labels "base" and "base_v2",
    # "base_v2_q01_round1.json" must not parse as side "base", query "v2_q01".
    sides = "|".join(re.escape(l) for l in sorted((la, lb), key=len,
                                                   reverse=True))
    for f in d.glob("*_round*.json"):
        m = re.fullmatch(rf"({sides})_(.+)_round(\d+)\.json", f.name)
        if not m:
            continue
        side, q = m.group(1), m.group(2)
        try:
            j = json.loads(f.read_text())
        except Exception as e:
            print(f"WARN unreadable {f.name}: {e}", file=sys.stderr)
            continue
        ts = [t for t in j.get("reps_detail", {}).get(q, {}).get("t", [])
              if t > 0]
        data.setdefault(q, {}).setdefault(side, []).extend(ts)
    rows = []
    for q in sorted(data):
        a = data[q].get(la, [])
        b = data[q].get(lb, [])
        if not a or not b:
            rows.append((q, a, b, None))
            continue
        rows.append((q, a, b, min(b) / min(a)))
    print(f"{'query':40s} {la+'_min':>9s} {lb+'_min':>9s} "
          f"{'ratio':>6s} {la+'_med':>9s} {lb+'_med':>9s} {'n':>4s}")
    for q, a, b, ratio in rows:
        if ratio is None:
            print(f"{q:40s} MISSING a={len(a)} b={len(b)}")
            continue
        print(f"{q:40s} {min(a):9.3f} {min(b):9.3f} {ratio:6.3f} "
              f"{statistics.median(a):9.3f} {statistics.median(b):9.3f} "
              f"{min(len(a), len(b)):4d}")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
