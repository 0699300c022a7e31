#!/usr/bin/env python3
"""Run every workload once and print every end-to-end metric by name and
unit, with the correctness result.

  python3 perfbench/report.py [--seed N] [--seconds S] [--traced]

--traced adds a traced run per workload, prints its per-layer metrics and
the tracing overhead (traced op_s_gm minus untraced op_s_gm).
"""
import argparse
import glob
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload}: run failed (exit {p.returncode})")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    found = glob.glob(os.path.join(ROOT, ".bench_build", "results",
                                   f"{workload}-seed{seed}-trace{trace}-*"
                                   "[0-9].json"))
    with open(max(found, key=os.path.getmtime)) as f:
        return line, json.load(f)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    ok = True
    for w in spec["workloads"]:
        line, res = run(w["name"], a.seed, a.seconds, 0)
        ok &= line["correct"]
        print(f"== {w['name']} (seed {a.seed}): correct={line['correct']} "
              f"attempted={line['attempted']} failed={line['failed']}")
        for m in spec["end_to_end"]:
            e = res["end_to_end"][m["name"]]
            print(f"  {m['name']:28s} {e['value']:>14.4f} {m['unit']:8s} "
                  f"n={e['n']}")
        bad = {k: v["detail"] for k, v in res["checks"].items() if not v["ok"]}
        for k, v in sorted(bad.items()):
            print(f"  check failed: {k}: {v}")
        if a.traced:
            tline, tres = run(w["name"], a.seed, a.seconds, 1)
            ok &= tline["correct"]
            for name, m in sorted(tres["layers"].items()):
                print(f"  {name:40s} {m['value']:>14.4f} {m['unit']:8s} "
                      f"n={m['n']}")
            over = (tres["end_to_end"]["op_s_gm"]["value"]
                    - res["end_to_end"]["op_s_gm"]["value"])
            print(f"  tracing overhead (op_s_gm): {over:+.4f} s")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
