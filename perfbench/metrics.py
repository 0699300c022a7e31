"""Turns one run's raw trace (trace.jsonl from perfbench.BenchMain) into
end-to-end metrics, the per-layer table and the span tree.

Every metric is returned as {"value", "unit", "n"}, n being the number of
samples behind it. Jobs, stages, triggers and Catalyst queries belong to
the timed op whose interval contains them; the bench runs ops serially."""
import collections
import json
import math

import stats

LIVE_PHASES = ("addBatch", "queryPlanning", "getBatch", "latestOffset",
               "walCommit", "commitOffsets")


def load(path):
    tr = collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            tr[rec["t"]].append(rec)
    return tr


def _m(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def attach(ops, items, at):
    """Group items by the op (index) whose interval contains at(item)."""
    line = stats.Timeline([(o["start"], o["end"], i)
                           for i, o in enumerate(ops)])
    by_op = collections.defaultdict(list)
    for it in items:
        hit = line.find(at(it))
        if hit is not None:
            by_op[hit[2]].append(it)
    return by_op


def triggers_by_op(tr, ops):
    return attach(ops, tr["trigger"], lambda t: t["start"])


def gmean_of_medians(groups):
    """Geometric mean over groups of each group's median. The ops of a
    cycle differ in kind and cost (up to 5x); summarising each kind by its
    median and the kinds by their geometric mean weighs every kind alike,
    where one median over all samples jumps between kinds."""
    meds = [stats.median(v) for v in groups.values() if v]
    if not meds or min(meds) <= 0:
        return None
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def end_to_end(tr, workload):
    ops = tr["op"]
    ok = [o for o in ops if o["ok"]]
    summ = tr["summary"][0]
    out = {}
    setups = summ["setup_s"]
    out["setup_s"] = _m(stats.median(setups), "s", len(setups))
    lat = collections.defaultdict(list)  # request kind -> latencies, ms
    if workload == "live":
        # a live client waits one micro-batch trigger for its results
        for i, ts in triggers_by_op(tr, ok).items():
            lat[ok[i]["name"]] += [t["dur"]["triggerExecution"] for t in ts]
    else:
        for o in ok:
            lat[o["name"]].append(o["dur_ms"])
    n_lat = sum(len(v) for v in lat.values())
    out["latency_ms_gm"] = _m(gmean_of_medians(lat), "ms", n_lat)
    pooled = [x for v in lat.values() for x in v]
    out["latency_ms_p50"] = _m(stats.median(pooled), "ms", n_lat)
    p = stats.tail_percentile(n_lat)
    if p is not None:  # a tail needs ten samples beyond it
        out["latency_ms_p%g" % p] = _m(stats.quantile(pooled, p), "ms",
                                        n_lat)
    durs = collections.defaultdict(list)
    for o in ok:
        durs[o["name"]].append(o["dur_ms"] / 1000.0)
    out["op_s_gm"] = _m(gmean_of_medians(durs), "s", len(ok))
    out["op_s_p50"] = _m(stats.median([o["dur_ms"] / 1000.0 for o in ok]),
                         "s", len(ok))
    wall = sum(o["dur_ms"] for o in ops) / 1000.0
    rows = sum(o["rows_in"] for o in ok)
    out["rows_per_s"] = _m(rows / wall if wall else None, "rows/s", len(ops))
    out["peak_rss_mb"] = _m(summ["vm_hwm_kb"] / 1024.0, "MB", 1)
    out["heap_retained_mb"] = _m(summ["heap_after_gc_mb"], "MB", 1)
    return out


def layers(tr):
    """The per-layer table of a traced run."""
    ops = [o for o in tr["op"] if o["ok"]]
    n_ops = len(ops)
    jobs_by = attach(ops, tr["job"], lambda j: j["start"])
    stage_by_id = collections.defaultdict(list)
    for s in tr["stage"]:
        stage_by_id[s["id"]].append(s)
    trig_by = triggers_by_op(tr, ops)
    q_by = attach(ops, tr["query"], lambda q: q["end"])

    tot = collections.Counter()
    busy = outside = 0.0
    for i, o in enumerate(ops):
        js = jobs_by.get(i, [])
        busy_i = stats.covered((o["start"], o["end"]),
                               [(j["start"], j["end"]) for j in js])
        busy += busy_i
        outside += o["dur_ms"] - busy_i
        tot["jobs"] += len(js)
        tot["job_failures"] += sum(not j["ok"] for j in js)
        for j in js:
            for sid in j["stages"]:
                for s in stage_by_id.get(sid, []):
                    tot["stages"] += 1
                    tot["stage_retries"] += s["attempt"] > 0
                    for k in ("tasks", "failed_tasks", "nonempty_tasks",
                              "cpu_ms", "sched_ms", "input_bytes",
                              "shuffle_read_bytes", "shuffle_write_bytes",
                              "spill_bytes"):
                        tot[k] += s[k]

    def per_op(x):
        return x / n_ops if n_ops else 0.0

    out = {
        "spark.jobs": _m(per_op(tot["jobs"]), "count", n_ops),
        "spark.stages": _m(per_op(tot["stages"]), "count", n_ops),
        "spark.tasks": _m(per_op(tot["tasks"]), "count", n_ops),
        "spark.job_busy_ms": _m(per_op(busy), "ms", n_ops),
        "spark.outside_jobs_ms": _m(per_op(outside), "ms", n_ops),
        "spark.sched_delay_ms": _m(per_op(tot["sched_ms"]), "ms", n_ops),
        "spark.task_cpu_ms": _m(per_op(tot["cpu_ms"]), "ms", n_ops),
        "spark.nonempty_task_ratio": _m(
            tot["nonempty_tasks"] / tot["tasks"] if tot["tasks"] else 0.0,
            "ratio", tot["tasks"]),
        "spark.input_bytes": _m(per_op(tot["input_bytes"]), "bytes", n_ops),
        "spark.shuffle_read_bytes": _m(per_op(tot["shuffle_read_bytes"]),
                                       "bytes", n_ops),
        "spark.shuffle_write_bytes": _m(per_op(tot["shuffle_write_bytes"]),
                                        "bytes", n_ops),
        "spark.spill_bytes": _m(per_op(tot["spill_bytes"]), "bytes", n_ops),
        "spark.task_failures": _m(tot["failed_tasks"], "count", n_ops),
        "spark.job_failures": _m(tot["job_failures"], "count", n_ops),
        "spark.stage_retries": _m(tot["stage_retries"], "count", n_ops),
    }

    qs = [q for i in range(n_ops) for q in q_by.get(i, [])]
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = _m(per_op(sum(q[ph] for q in qs)), "ms",
                                      n_ops)
    out["catalyst.plan_nodes"] = _m(
        sum(q["nodes"] for q in qs) / len(qs) if qs else 0.0, "count",
        len(qs))

    # live: per-trigger phases, jobs and state
    trigs = [(i, t) for i in range(n_ops) for t in trig_by.get(i, [])]
    n_t = len(trigs)
    deploys = [i for i, o in enumerate(ops) if o["kind"] == "deploy"]
    out["live.triggers"] = _m(n_t / len(deploys) if deploys else 0.0,
                              "count", len(deploys))
    # jobs and stages started inside each trigger, over all triggers and
    # per app family (fold runner or Spark's own stateful operators)
    per = collections.defaultdict(lambda: [0, 0, 0])  # triggers/jobs/stages
    for i, t in trigs:
        span = (t["start"], t["start"] + t["dur"]["triggerExecution"])
        js = [j for j in jobs_by.get(i, [])
              if span[0] <= j["start"] <= span[1]]
        stg = sum(len(stage_by_id.get(sid, [])) for j in js
                  for sid in j["stages"])
        for key in ("", "." + ops[i]["family"]):
            per[key][0] += 1
            per[key][1] += len(js)
            per[key][2] += stg
    for key in ("", ".fold", ".native"):
        n, j, g = per.get(key, (0, 0, 0))
        out["spark.jobs_per_trigger" + key] = _m(j / n if n else 0.0,
                                                 "count", n)
        out["spark.stages_per_trigger" + key] = _m(g / n if n else 0.0,
                                                   "count", n)
    for ph in LIVE_PHASES:
        v = [t["dur"].get(ph, 0) for _, t in trigs]
        out[f"live.{ph}_ms"] = _m(stats.median(v) or 0.0, "ms", n_t)
    # state-store figures: triggers of apps on Spark's stateful operators
    st = [t for i, t in trigs if ops[i]["family"] == "native"]

    def per_trigger(k):
        return sum(t[k] for t in st) / len(st) if st else 0.0

    out["state.rows_total"] = _m(per_trigger("state_rows"), "count", len(st))
    out["state.memory_bytes"] = _m(per_trigger("state_bytes"), "bytes",
                                   len(st))
    out["state.commit_ms"] = _m(per_trigger("state_commit_ms"), "ms", len(st))
    out["state.rows_removed"] = _m(per_trigger("state_removed"), "count",
                                   len(st))
    dep, tear = [], []
    for i in deploys:
        ts = sorted(trig_by.get(i, []), key=lambda t: t["start"])
        if ts:
            o = ops[i]
            dep.append(ts[0]["start"] - o["start"])
            last = ts[-1]["start"] + ts[-1]["dur"]["triggerExecution"]
            tear.append(o["start"] + o["plan_ms"] - last)
    out["live.deploy_ms"] = _m(stats.median(dep) or 0.0, "ms", len(dep))
    out["live.teardown_ms"] = _m(stats.median(tear) or 0.0, "ms", len(tear))

    # program modules: the compiler call, and each registry op's time
    comp = [o["plan_ms"] for o in ops if o["kind"] == "compile"]
    out["compiler.compile_ms"] = _m(stats.median(comp) or 0.0, "ms",
                                    len(comp))
    for o_name in sorted({o["name"] for o in ops if o["kind"] == "registry"}):
        ds = [o["dur_ms"] / 1000.0 for o in ops if o["name"] == o_name]
        mod, _, rest = o_name.partition("_")
        out[f"{mod}.{rest}_s"] = _m(stats.median(ds), "s", len(ds))

    # the fold runner labels its jobs (probe:<state>, write:<state>, ...)
    sections = collections.Counter()
    n_fold = per.get(".fold", (0,))[0]
    for i, t in trigs:
        if ops[i]["family"] != "fold":
            continue
        span = (t["start"], t["start"] + t["dur"]["triggerExecution"])
        for j in jobs_by.get(i, []):
            if span[0] <= j["start"] <= span[1] and j["site"]:
                sections[j["site"].split(":")[0]] += 1
    for sec, n in sorted(sections.items()):
        if sec.replace("_", "").isalnum():
            out[f"live.fold.{sec}_jobs_per_trigger"] = _m(n / n_fold,
                                                          "count", n_fold)
    return out


def spans(tr):
    """The span tree: op -> (compile | plan | deploy, trigger, teardown |
    execute) -> job -> stage. Spans of one op share its id; each carries
    its self time."""
    ops = [o for o in tr["op"] if o["ok"]]
    trig_by = triggers_by_op(tr, ops)
    jobs_by = attach(ops, tr["job"], lambda j: j["start"])
    stage_by_id = collections.defaultdict(list)
    for s in tr["stage"]:
        stage_by_id[s["id"]].append(s)
    out = []
    for i, o in enumerate(ops):
        oid = f"op{i}"
        root = {"id": oid, "parent": None, "op": oid,
                "name": f'{o["kind"]}:{o["name"]}', "start": o["start"],
                "end": o["end"]}
        planned = o["start"] + o["plan_ms"]
        kids = []
        ts = sorted(trig_by.get(i, []), key=lambda t: t["start"])
        if o["kind"] == "deploy" and ts:
            kids.append(("deploy", o["start"], ts[0]["start"]))
            for t in ts:
                kids.append((f'trigger:{t["batch"]}', t["start"],
                             t["start"] + t["dur"]["triggerExecution"]))
            last = ts[-1]["start"] + ts[-1]["dur"]["triggerExecution"]
            kids.append(("teardown", last, planned))
        else:
            kids.append(("compile" if o["kind"] == "compile" else "plan",
                         o["start"], planned))
        kids.append(("execute", planned, o["end"]))
        kid_spans = []
        for k, (name, s, e) in enumerate(kids):
            kid_spans.append({"id": f"{oid}.{k}", "parent": oid, "op": oid,
                              "name": name, "start": s, "end": e})
        job_spans = []
        for j in jobs_by.get(i, []):
            parent = next((k["id"] for k in kid_spans
                           if k["start"] <= j["start"] <= k["end"]), oid)
            js = {"id": f'{oid}.job{j["id"]}', "parent": parent, "op": oid,
                  "name": f'job:{j["site"]}', "start": j["start"],
                  "end": j["end"]}
            job_spans.append(js)
            for sid in j["stages"]:
                for s in stage_by_id.get(sid, []):
                    out.append({"id": f'{js["id"]}.stage{sid}.{s["attempt"]}',
                                "parent": js["id"], "op": oid,
                                "name": "stage", "start": s["start"],
                                "end": s["end"]})
        out.extend([root] + kid_spans + job_spans)
    children = collections.defaultdict(list)
    for s in out:
        if s["parent"]:
            children[s["parent"]].append((s["start"], s["end"]))
    for s in out:
        s["self_ms"] = stats.self_time((s["start"], s["end"]),
                                       children.get(s["id"], []))
    return out
