#!/usr/bin/env python3
"""Compare two sets of benchmark result files, per workload and per metric.

  python3 perfbench/layerdiff.py BEFORE AFTER

BEFORE and AFTER are each a result file or a directory of them (run.py
writes them to .bench_build/results/). For every workload both sides ran,
prints each end-to-end metric and, from traced runs, each per-layer metric:
the median over that side's runs, the change in percent, and the sample
counts behind it as runs x samples per run.
"""
import collections
import glob
import json
import os
import statistics
import sys


def load(path):
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    runs = collections.defaultdict(list)
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r:
            runs[r["workload"]].append(r)
    return runs


def table(runs, section):
    """metric -> (unit, [values], [sample counts]) over runs."""
    out = {}
    for r in runs:
        for name, m in (r.get(section) or {}).items():
            if m["value"] is None:
                continue
            unit, vals, ns = out.setdefault(name, (m["unit"], [], []))
            vals.append(m["value"])
            ns.append(m["n"])
    return out


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def diff(before, after, out=sys.stdout):
    for wl in sorted(set(before) & set(after)):
        print(f"== {wl}: {len(before[wl])} runs before, "
              f"{len(after[wl])} after", file=out)
        for section in ("end_to_end", "layers"):
            a, b = table(before[wl], section), table(after[wl], section)
            names = sorted(set(a) & set(b))
            if not names:
                continue
            print(f"-- {section}", file=out)
            print(f"{'metric':40s} {'unit':>8s} {'before':>12s} "
                  f"{'after':>12s} {'change':>8s}  samples", file=out)
            for n in names:
                ua, va, na = a[n]
                _, vb, nb = b[n]
                ma, mb = statistics.median(va), statistics.median(vb)
                ch = f"{(mb - ma) / ma * 100:+.1f}%" if ma else "n/a"
                print(f"{n:40s} {ua:>8s} {fmt(ma):>12s} {fmt(mb):>12s} "
                      f"{ch:>8s}  {len(va)}x{statistics.median(na):g} / "
                      f"{len(vb)}x{statistics.median(nb):g}", file=out)


def main(argv=None):
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        sys.exit(__doc__)
    diff(load(argv[0]), load(argv[1]))


if __name__ == "__main__":
    main()
