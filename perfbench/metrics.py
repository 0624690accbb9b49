"""Turns one harness result file into the benchmark's metrics.

End-to-end metrics come from the harness's own timings; per-layer metrics
from the listener ledger, attributed to gate executions through their job
tag and counted over the measured passes only. Per-layer values are per
measured pass, so runs with different pass counts compare.
"""
import json
import os
import statistics

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def quantile(values, pct):
    """Linear interpolation between closest ranks."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest ladder percentile with at least ten samples beyond it;
    below 20 samples, the median, flagged as short."""
    n = len(values)
    ok = [p for p in TAIL_LADDER if n * (1 - p / 100.0) >= 10]
    pct = ok[-1] if ok else 50.0
    return {"value": quantile(values, pct), "percentile": pct, "samples": n,
            "short": not ok}


def gate_median(execs, value):
    """Median over gates of each gate's median: the typical gate, steadier
    than the pooled median, which jumps between gates when there are few."""
    by = {}
    for e in execs:
        by.setdefault(e["gate"], []).append(value(e))
    return statistics.median(statistics.median(v) for v in by.values())


def fingerprint_ok(e, expected):
    want = expected.get(e["gate"])
    return ("error" not in e and want is not None and e["rows"] == want["rows"]
            and e["hash"] == want["hash"] and e["schema"] == want["schema"])


def summarize(res, expected, setup_cpu_s, setup_wall_s, cores):
    execs = res["execs"]
    measured = [e for e in execs if e["phase"] == "measured"]
    passes = res["passes"]
    warm = [p["wall_s"] for p in passes if p["phase"] == "measured"]
    bad = [e for e in execs if not fingerprint_ok(e, expected)]
    lat = [e["latency_s"] for e in measured]
    gate_tail = tail(lat)

    ledger = res["ledger"]
    run_exec = {s["run"]: s["exec"] for s in ledger["streams"]}
    mids = {e["exec"] for e in measured}
    mbatches = [b for b in ledger["batches"] if run_exec.get(b["run"]) in mids]
    trig = [b["duration_ms"]["triggerExecution"] for b in mbatches]
    batch_tail = tail(trig) if trig else None

    e2e = {
        "setup_s": setup_cpu_s,
        "setup_wall_s": setup_wall_s,
        "cold_pass_s": next(p["wall_s"] for p in passes if p["phase"] == "cold"),
        "warm_pass_s": statistics.median(warm),
        "warm_pass_cpu_s": statistics.median(p["cpu_s"] - p["jit_s"] for p in passes
                                             if p["phase"] == "measured"),
        "cold_pass_cpu_s": next(p["cpu_s"] for p in passes if p["phase"] == "cold"),
        "gate_cpu_p50_s": gate_median(measured, lambda e: e["cpu_s"] - e["jit_s"]),
        "gate_p50_s": gate_median(measured, lambda e: e["latency_s"]),
        "gate_tail_s": gate_tail["value"],
        "qps": len(measured) / res["measured"]["wall_s"],
        "batch_p50_ms": statistics.median(trig) if trig else None,
        "batch_tail_ms": batch_tail["value"] if batch_tail else None,
        "stream_rows_per_s": (sum(b["rows"] for b in mbatches) / (sum(trig) / 1000.0)
                              if trig else None),
        "fail_ratio": len(bad) / len(execs),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        "retained_mb": res["retained_mb"],
    }
    e2e["ok_ratio"] = 1.0 - e2e["fail_ratio"]
    report = {
        "end_to_end": e2e,
        "gate_tail": gate_tail,
        "batch_tail": batch_tail,
        "passes": {"cold": 1, "warmup": sum(p["phase"] == "warmup" for p in passes),
                   "measured": res["measured"],
                   # last over first measured pass: below 1 while still warming
                   "measured_drift": warm[-1] / warm[0],
                   "jit_s": {ph: sum(p["jit_s"] for p in passes if p["phase"] == ph)
                             for ph in ("cold", "warmup", "measured")}},
        "failures": [{"gate": e["gate"], "phase": e["phase"],
                      "error": e.get("error", "fingerprint mismatch")} for e in bad][:20],
    }
    per_layer, per_pass = layers(res, measured, mbatches, cores)
    return {"end_to_end": e2e, "per_layer": per_layer, "per_pass_counts": per_pass,
            "report": report, "attempted": len(execs), "failed": len(bad)}


def layers(res, measured, mbatches, cores):
    """Per-layer metrics over the measured passes, per pass; and the
    deterministic counts of each measured pass on its own."""
    ledger = res["ledger"]
    npass = res["measured"]["passes"]
    pass_of = {e["exec"]: e["pass"] for e in measured}
    build_end = {e["exec"]: e["start_ms"] + max(e["build_ms"], 0.0) for e in measured}
    jobs = [j for j in ledger["jobs"] if j["exec"] in pass_of]
    stages = [s for s in ledger["stages"] if s["exec"] in pass_of]
    queries = [q for q in ledger["sql"] if q["exec"] in pass_of and "analysis_ms" in q]

    def total(rows, key):
        return sum(r.get(key, 0) for r in rows)

    m = {
        "operators.build_s": sum(max(e["build_ms"], 0.0) for e in measured) / 1000.0,
        "operators.eager_jobs": sum(1 for j in jobs if j["start_ms"] <= build_end[j["exec"]]),
        "plans.analysis_ms": total(queries, "analysis_ms"),
        "plans.optimization_ms": total(queries, "optimization_ms"),
        "plans.planning_ms": total(queries, "planning_ms"),
        "plans.graft_rules_ms": total(queries, "graft_rules_ms"),
        "plans.queries": len(queries),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": total(stages, "tasks"),
        "exec.task_run_s": total(stages, "run_ms") / 1000.0,
        "exec.task_cpu_s": total(stages, "cpu_ns") / 1e9,
        "exec.gc_s": total(stages, "gc_ms") / 1000.0,
        "exec.sched_delay_s": total(stages, "sched_ms") / 1000.0,
        "shuffle.write_bytes": total(stages, "shuffle_write_bytes"),
        "shuffle.read_bytes": total(stages, "shuffle_read_bytes"),
        "shuffle.records": total(stages, "shuffle_records"),
        "shuffle.fetch_wait_s": total(stages, "fetch_wait_ms") / 1000.0,
        "shuffle.spill_bytes": total(stages, "spill_bytes"),
        "sources.bytes_read": total(stages, "bytes_read"),
        "sources.records_read": total(stages, "records_read"),
        "sources.bytes_written": total(stages, "bytes_written"),
        "sources.records_written": total(stages, "records_written"),
        "streaming.batches": len(mbatches),
        "streaming.add_batch_ms": sum(b["duration_ms"].get("addBatch", 0) for b in mbatches),
        "streaming.query_planning_ms": sum(b["duration_ms"].get("queryPlanning", 0)
                                           for b in mbatches),
        "streaming.wal_commit_ms": sum(b["duration_ms"].get("walCommit", 0) for b in mbatches),
        "streaming.commit_offsets_ms": sum(b["duration_ms"].get("commitOffsets", 0)
                                           for b in mbatches),
        "streaming.state_rows": final_state_rows(mbatches),
        "streaming.state_commit_ms": total(mbatches, "state_commit_ms"),
        "streaming.state_mem_bytes": max([b["state_mem_bytes"] for b in mbatches], default=0),
    }
    per = {k: v / npass for k, v in m.items() if k != "streaming.state_mem_bytes"}
    per["streaming.state_mem_bytes"] = m["streaming.state_mem_bytes"]
    per["exec.core_busy_ratio"] = m["exec.task_run_s"] / (cores * res["measured"]["wall_s"])

    run_exec = {s["run"]: s["exec"] for s in ledger["streams"]}
    counts = {}
    for name, rows in (("exec.jobs", jobs), ("exec.stages", stages),
                       ("plans.queries", queries), ("streaming.batches", mbatches)):
        c = {}
        for r in rows:
            p = pass_of[r["exec"] if "exec" in r else run_exec[r["run"]]]
            c[p] = c.get(p, 0) + 1
        counts[name] = [c.get(p, 0) for p in sorted(set(pass_of.values()))]
    for name, values in counts.items():
        # A count that repeats in every pass is reported exactly; one that
        # does not is reported from the first measured pass, never averaged.
        per[name] = values[0]
    return per, counts


def final_state_rows(batches):
    """State rows held at the end of each stream query, summed."""
    last = {}
    for b in batches:
        if b["run"] not in last or b["batch"] > last[b["run"]]["batch"]:
            last[b["run"]] = b
    return sum(b["state_rows"] for b in last.values())


def spans(res):
    """Spans gate -> SQL execution -> job -> stage and gate -> stream query
    -> micro-batch, with self time (duration minus the union of child
    intervals clipped to the span)."""
    ledger = res["ledger"]
    out = {}

    def add(sid, kind, parent, start, end, name):
        if end is not None and end >= start:
            out[sid] = {"id": sid, "kind": kind, "parent": parent, "name": name,
                        "start_ms": start, "end_ms": end}

    for e in res["execs"]:
        add(f"e{e['exec']}", "gate", None, e["start_ms"], e["end_ms"], e["gate"])
    sqls = {s["sql"] for s in ledger["sql"]}
    for s in ledger["sql"]:
        parent = f"q{s['root']}" if s["root"] != s["sql"] and s["root"] in sqls \
            else f"e{s['exec']}"
        add(f"q{s['sql']}", "sql", parent, s["start_ms"], s["end_ms"], str(s["sql"]))
    stage_job = {}
    for j in ledger["jobs"]:
        parent = f"q{j['sql']}" if j["sql"] in sqls else f"e{j['exec']}"
        add(f"j{j['job']}", "job", parent, j["start_ms"], j["end_ms"], str(j["job"]))
        for st in j["stages"]:
            stage_job.setdefault(st, j["job"])
    for s in ledger["stages"]:
        parent = f"j{stage_job[s['stage']]}" if s["stage"] in stage_job else f"e{s['exec']}"
        add(f"s{s['stage']}.{s['attempt']}", "stage", parent, s["start_ms"],
            s["end_ms"] if s["end_ms"] >= 0 else None, str(s["stage"]))
    for r in ledger["streams"]:
        add(f"r{r['run']}", "stream", f"e{r['exec']}", r["start_ms"],
            r["end_ms"] if r["end_ms"] >= 0 else None, r["run"])
    for b in ledger["batches"]:
        add(f"b{b['run']}.{b['batch']}", "batch", f"r{b['run']}", b["ts_ms"],
            b["ts_ms"] + b["duration_ms"].get("triggerExecution", 0), str(b["batch"]))

    children = {}
    for s in out.values():
        if s["parent"] in out:
            children.setdefault(s["parent"], []).append(s)
    for s in out.values():
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in children.get(s["id"], []))
        covered, cur = 0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        s["self_ms"] = (hi - lo) - covered
    return list(out.values())


def root_of(span, by_id):
    while span["parent"] in by_id:
        span = by_id[span["parent"]]
    return span


def trace_report(res, summary, results_dir, workload):
    """Tracing overhead against the last untraced run of the workload in
    this checkout, the determinism check of the counts (within the run and
    against the previous traced run), self time per span kind, and the
    spans file."""
    rep = {}
    base_path = os.path.join(results_dir, f"{workload}-t0-last.json")
    traced = summary["end_to_end"]
    over = {"traced_warm_pass_s": traced["warm_pass_s"],
            "traced_warm_pass_cpu_s": traced["warm_pass_cpu_s"]}
    if os.path.isfile(base_path):
        with open(base_path) as fh:
            base = json.load(fh)
        untraced = base["end_to_end"]
        over.update({"ratio": traced["warm_pass_s"] / untraced["warm_pass_s"],
                     "cpu_ratio": traced["warm_pass_cpu_s"] / untraced["warm_pass_cpu_s"],
                     "untraced_warm_pass_s": untraced["warm_pass_s"],
                     "untraced_warm_pass_cpu_s": untraced["warm_pass_cpu_s"],
                     "untraced_seed": base["seed"]})
    else:
        over["note"] = "no untraced run of this workload in this checkout yet"
    rep["tracing_overhead"] = over
    prev = None
    prev_path = os.path.join(results_dir, f"{workload}-t1-last.json")
    if os.path.isfile(prev_path):
        with open(prev_path) as fh:
            prev = json.load(fh).get("counts_per_pass")
    det = {}
    for name, values in summary["per_pass_counts"].items():
        same = len(set(values)) == 1
        det[name] = {"per_pass": values, "repeats_within_run": same,
                     "repeats_previous_run": (prev[name][0] == values[0]
                                              if prev and prev.get(name) else None),
                     "status": "exact" if same else "not deterministic"}
    rep["counts_per_pass"] = summary["per_pass_counts"]
    rep["deterministic_counts"] = det

    sp = spans(res)
    by_id = {s["id"]: s for s in sp}
    mids = {f"e{e['exec']}" for e in res["execs"] if e["phase"] == "measured"}
    selfs = {}
    for s in sp:
        if root_of(s, by_id)["id"] in mids:
            selfs[s["kind"]] = selfs.get(s["kind"], 0.0) + s["self_ms"] / 1000.0
    npass = res["measured"]["passes"]
    rep["self_s_per_pass"] = {k: v / npass for k, v in sorted(selfs.items())}
    path = os.path.join(results_dir, f"{workload}-spans.json")
    with open(path, "w") as fh:
        json.dump(sp, fh)
    rep["spans_file"] = os.path.relpath(path)
    rep["per_layer"] = summary["per_layer"]
    return rep
