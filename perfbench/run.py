#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

  python3 perfbench/run.py --workload live|batch --seed N --seconds S \
      --trace 0|1

Builds the engine and the bench harness from the checkout's sources (first
run only; later runs reuse the build while the sources are unchanged),
generates the workload's inputs from the seed in a separate process, runs
one JVM that sets up, warms up and times the workload's ops, checks every
op's result outside the timed section, and prints one JSON line last:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Each run also leaves a result file (and, traced, a span file) under
.bench_build/results/ in the checkout, named after the workload, seed,
trace flag and start time; layerdiff.py compares them.
Everything the run writes stays inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import metrics  # noqa: E402

# Input properties per workload. The seed only changes the random draw:
# every seed gives the same sizes, so runs under different seeds do the
# same amount of work. `warm` is the tiny input of the warm-up pass.
WORKLOADS = {
    "live": {  # 4 micro-batches per deployment: 6,000 events each
        "gen": {"events": 24000, "keys": 1000, "span-minutes": 2880},
        "warm": {"events": 2000, "keys": 50, "span-minutes": 240},
    },
    "batch": {
        "gen": {"events": 240000, "keys": 1000, "span-minutes": 10080,
                "docs": 100, "chain-max": 4, "path-len": 96,
                "vecs": 1000},
        "warm": {"events": 3000, "keys": 50, "span-minutes": 10080,
                 "docs": 30, "chain-max": 4, "path-len": 12,
                 "vecs": 100},
    },
}
SETUPS = 3           # set-ups per run; setup_s is their median
RUN_LIMIT_S = 170    # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run may take 900 s, because it builds

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = ("setup_s", "latency_ms_gm", "op_s_gm", "rows_per_s",
              "heap_retained_mb")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    files = []
    for base, subdirs in ((ROOT, ("project",)), (BENCH, ("project",))):
        for d in subdirs:
            p = os.path.join(base, d)
            if os.path.isdir(p):
                files += [os.path.join(p, f) for f in os.listdir(p)
                          if f.endswith((".sbt", ".properties", ".scala"))]
        files.append(os.path.join(base, "build.sbt"))
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH, "src", "main")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build():
    """The JVM classpath of the bench harness, building when the sources
    changed since the last build in this checkout."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (build.sbt, "
             "src/main/scala); run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                               "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "export perfbench/Runtime/fullClasspath"],
                  cwd=BENCH, env=env, stdout=out, timeout=BUILD_LIMIT_S)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and os.pathsep in ln), None)
    if rc != 0 or cp is None:
        sys.stderr.write("".join(ln + "\n" for ln in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def call(cmd, timeout, poll=None, **kw):
    """Run cmd in its own process group, calling poll() about every 0.2 s
    while it runs; on timeout kill the whole group and wait for it, so
    nothing it started outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    end = time.monotonic() + timeout
    try:
        while True:
            try:
                return p.wait(timeout=0.2)
            except subprocess.TimeoutExpired:
                if time.monotonic() > end:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
                    return "timeout"
                if poll:
                    poll()
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def generate(out, seed, props):
    cmd = [sys.executable, os.path.join(BENCH, "gen.py"), "--out", out,
           "--seed", str(seed)]
    for k, v in props.items():
        cmd += [f"--{k}", str(v)]
    rc = call(cmd, timeout=120, stdout=subprocess.DEVNULL)
    if rc != 0:
        fail(f"input generator failed (exit {rc})")
    with open(os.path.join(out, "inputs.json")) as f:
        return json.load(f)


def link_copy(src, dst):
    """A second path to the same input files, so the program's first load
    happens again (its loaders cache per directory)."""
    def link(a, b):
        try:
            os.link(a, b)
        except OSError:
            shutil.copy(a, b)
    shutil.copytree(src, dst, copy_function=link)


def fs_type(path):
    """The file system type of path, as `stat -f` names it."""
    p = subprocess.run(["stat", "-f", "-c", "%T", path],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    return p.stdout.strip() or None


def jvm_env(scratch):
    # no bench-only engine knobs (SPARK_GRAFT_*), no Spark dirs outside the
    # checkout. The engine's scratch root, where the live fold runner keeps
    # its per-trigger parquet and checkpoint files, goes inside the run
    # directory, because a run writes only inside its checkout; by default
    # the engine puts it on /dev/shm. Live figures therefore include the
    # cost of those files on the checkout's file system (`scratch_fs` in
    # the result file).
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_SCRATCH"] = scratch
    return env


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    w = WORKLOADS[a.workload]

    cp = build()
    t_start = time.monotonic()
    load_before = os.getloadavg()
    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    try:
        inputs = generate(os.path.join(run, "in"), a.seed, w["gen"])
        warm = os.path.join(run, "warm")
        generate(warm, a.seed, w["warm"])
        setup_dirs = []
        for k in range(1, SETUPS):
            d = os.path.join(run, f"setup{k}")
            link_copy(os.path.join(run, "in"), d)
            setup_dirs.append(d)
        for d in ("scratch", "tmp"):
            os.makedirs(os.path.join(run, d))
        out = os.path.join(run, "out")
        cpus = len(os.sched_getaffinity(0))  # what `nproc` reports
        # the JVM's default heap sizing: peak RSS is what the program
        # touched, heap and native memory alike
        cmd = [java(), f"-Djava.io.tmpdir={run}/tmp"]
        for p in JVM_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.BenchMain",
                "--workload", a.workload, "--dir", os.path.join(run, "in"),
                "--setup-dirs", ",".join(setup_dirs),
                "--warm", warm, "--out", out,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus)]
        log = os.path.join(run, "jvm.log")
        # once the JVM's timed section is over, DuckDB answers the oracle
        # queries in a thread while the JVM computes its own checks
        oracle_jobs = []

        def start_oracles():
            if not oracle_jobs and os.path.exists(os.path.join(out,
                                                               "measured")):
                ora = compare.Oracles(os.path.join(out, "oracle.json"),
                                      os.path.join(run, "in"))
                th = threading.Thread(target=ora.compute, daemon=True)
                th.start()
                oracle_jobs.append((ora, th))

        t_jvm = time.monotonic()
        with open(log, "w") as f:
            rc = call(cmd, cwd=run, env=jvm_env(os.path.join(run, "scratch")),
                      stdout=f, stderr=subprocess.STDOUT, poll=start_oracles,
                      timeout=RUN_LIMIT_S - (time.monotonic() - t_start))
        if rc != 0:
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM failed ({rc})", 1)

        t_check = time.monotonic()
        tr = metrics.load(os.path.join(out, "trace.jsonl"))
        checks = {c["op"]: (c["how"], c["key"]) for c in tr["check"]}
        start_oracles()
        ora, th = oracle_jobs[0]
        th.join()
        verdicts = compare.check_all(checks, os.path.join(out, "check"), ora)
        attempted = len(tr["op"])
        failed = sum(1 for o in tr["op"]
                     if not (o["ok"] and o["same"]
                             and verdicts.get(o["name"], (False,))[0]))
        e2e = metrics.end_to_end(tr, a.workload)
        layer = metrics.layers(tr) if a.trace else None
        summ = tr["summary"][0]
        result = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "inputs": inputs,
            "live_chunks": summ["live_chunks"],
            "nproc": cpus, "scratch_fs": fs_type(run),
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(), "jdk": summ["jdk"],
            "spark": summ["spark"], "setup_s_samples": summ["setup_s"],
            "warmup_s": summ["warmup_s"], "cycles": summ["cycles"],
            "warmup_ops_ms": {w["op"]: w["dur_ms"] for w in tr["warm"]},
            "gc_ms": tr["phase"][0]["gc_ms"],
            "attempted": attempted, "failed": failed,
            "checks": {k: {"ok": v[0], "detail": v[1]}
                       for k, v in verdicts.items()},
            "ops": [{k: o.get(k) for k in ("name", "kind", "cycle", "dur_ms",
                                           "plan_ms", "rows_in", "rows_out",
                                           "ok", "error")}
                    for o in tr["op"]],
            "end_to_end": e2e, "layers": layer,
            "wall_s": {"generate": t_jvm - t_start, "jvm": t_check - t_jvm,
                       "check": time.monotonic() - t_check},
        }
        res_dir = os.path.join(BUILD, "results")
        os.makedirs(res_dir, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        stem = os.path.join(
            res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}")
        with open(stem + ".json", "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        if a.trace:
            with open(stem + "-spans.jsonl", "w") as f:
                for s in metrics.spans(tr):
                    f.write(json.dumps(s) + "\n")
    finally:
        shutil.rmtree(run, ignore_errors=True)

    if a.trace:
        names = [m["name"] for m in bench_spec()["per_layer"]]
        chosen = {n: layer[n] for n in names}
    else:
        chosen = {n: e2e[n] for n in END_TO_END}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": m["value"], "unit": m["unit"]}
                    for n, m in chosen.items()}}))


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
