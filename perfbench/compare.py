#!/usr/bin/env python3
"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Each side is one or more result records written by run.py (files, or
directories of them, e.g. copies of .bench_build/results). Records are
grouped by workload and trace mode; for every metric of the groups both
sides ran it prints both medians, the relative change and each side's
quartile spread. It refuses to compare runs whose `cpus` (the processors
the JVM saw) differ.
"""
import glob
import json
import os
import statistics
import sys


def load(paths):
    recs = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                recs.append(json.load(fh))
    return recs


def spread(values):
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def group(recs):
    out = {}
    for r in recs:
        c = r["context"]
        key = (c["workload"], bool(c["trace"]))
        for name, m in r["metrics"].items():
            out.setdefault(key, {}).setdefault(name, []).append(m["value"])
    return out


def compare(base, new):
    cpus = {r["context"]["cpus"] for r in base + new}
    if len(cpus) != 1:
        raise SystemExit(f"refusing to compare runs taken at different cpus: {sorted(cpus)}")
    gb, gn = group(base), group(new)
    common = sorted(set(gb) & set(gn))
    if not common:
        raise SystemExit(f"no workload and trace mode in common: {sorted(gb)} vs {sorted(gn)}")
    rows = []
    for key in common:
        for name in sorted(gb[key]):
            b, n = gb[key][name], gn[key].get(name, [])
            if not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb if mb else float("nan")
            rows.append((key[0], name, mb, mn, change, spread(b), spread(n)))
    return rows


def main(argv):
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    rows = compare(load(argv[:i]), load(argv[i + 1:]))
    print(f"{'workload':18} {'metric':40} {'base':>12} {'new':>12} {'change':>8} "
          f"{'spread_b':>8} {'spread_n':>8}")
    for w, name, mb, mn, ch, sb, sn in rows:
        print(f"{w:18} {name:40} {mb:12.4g} {mn:12.4g} {ch:+8.1%} {sb:8.1%} {sn:8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
