#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness when stale (perfbench/build.py), then
starts the harness JVM, times its set-up and runs the workload's gates in
it: one cold pass, one warm-up pass, and measured passes for `--seconds`
(at least two). Every gate execution's full output is fingerprinted and
checked against perfbench/expected.json.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from Spark listeners
registered by the harness. The line before it is a report with the
regime stamp, every end-to-end metric (fail_ratio and the wall times
included), the tracing overhead and the determinism check of the counts. Both, and the
spans of a traced run, are also written under perfbench/.work/results/.
"""
import argparse
import json
import os
import platform
import select
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import metrics  # noqa: E402

WORK = build.WORK
RESULTS = os.path.join(WORK, "results")
DEADLINE_S = 170.0
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load(name):
    with open(os.path.join(BENCH, name)) as fh:
        return json.load(fh)


def config():
    """workloads.json, with the table directory resolved (PERFBENCH_SF_DIR
    overrides it) and the cores capped at nproc."""
    cfg = load("workloads.json")
    cfg["sf_dir"] = os.path.expanduser(os.environ.get("PERFBENCH_SF_DIR", cfg["sf_dir"]))
    cfg["cores"] = min(cfg["cores"], nproc())
    return cfg


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks():
    """The first line of /proc/stat: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def nproc():
    return len(os.sched_getaffinity(0))


class Jvm:
    """One harness JVM: started, timed until it prints READY with its CPU
    time so far, then awaited."""

    def __init__(self, root, cfg, args, rundir, deadline):
        os.makedirs(os.path.join(rundir, "tmp"), exist_ok=True)
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env["SPARK_GRAFT_SCRATCH"] = os.path.join(rundir, "scratch")
        # A fixed set of JIT compiler threads, so that their CPU time stays
        # readable (see Harness.jit).
        cmd = ["java", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [f"-Djava.io.tmpdir={rundir}/tmp", f"-Dspark.local.dir={rundir}/tmp",
                f"-Dspark.sql.warehouse.dir={rundir}/warehouse",
                "-cp", build.classpath(root), "perfbench.Harness",
                f"sf={cfg['sf_dir']}", f"cores={cfg['cores']}"]
        cmd += [f"{k}={v}" for k, v in args.items()]
        self.deadline = deadline
        self.log = open(os.path.join(rundir, "jvm.log"), "ab")
        t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=subprocess.PIPE,
                                     stderr=self.log)
        ready, _, _ = select.select([self.proc.stdout], [], [], self.remaining())
        line = (self.proc.stdout.readline() if ready else b"").split()
        self.setup_wall_s = time.monotonic() - t0
        if len(line) != 2 or line[0] != b"READY":
            self.stop()
            raise RuntimeError(f"harness did not get ready; see {rundir}/jvm.log")
        self.setup_cpu_s = float(line[1])

    def remaining(self):
        return None if self.deadline is None else max(1.0, self.deadline - time.monotonic())

    def stop(self):
        """Kills the JVM if it still runs, and reaps it."""
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.proc.stdout.close()
        self.log.close()

    def wait(self):
        try:
            rc = self.proc.wait(timeout=self.remaining())
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness overran the run deadline")
        finally:
            self.stop()
        if rc != 0:
            raise RuntimeError(f"harness exited with {rc}")


def regime(root, cfg, res, load_before, ticks_before):
    head = "none"
    if os.path.isdir(os.path.join(root, ".git")):
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True).stdout.strip() or "none"
    r = dict(res["regime"])
    r.update({"nproc": nproc(), "cores": cfg["cores"], "sf": cfg["sf"],
              "sf_dir": cfg["sf_dir"], "head": head, "source_digest": build.digest(root),
              "heap": HEAP, "host": platform.node(), "loadavg_before": load_before,
              "loadavg_after": loadavg()})
    # Share of the run's busy CPU time the hypervisor gave to other machines.
    d = [b - a for a, b in zip(ticks_before, cpu_ticks())]
    busy = sum(d) - d[3] - d[4]
    r["steal_ratio"] = d[7] / busy if busy else 0.0
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    cfg = config()
    workloads = {w["name"]: w for w in cfg["workloads"]}
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    wl = workloads[a.workload]
    for t in cfg["tables"]:
        if not os.path.exists(os.path.join(cfg["sf_dir"], f"{t}.parquet")):
            sys.exit(f"table {t} missing under {cfg['sf_dir']}")

    try:
        build.build(root)
    except RuntimeError as e:
        sys.exit(f"build: {e}")

    load_before, ticks_before = loadavg(), cpu_ticks()
    deadline = time.monotonic() + DEADLINE_S
    rundir = os.path.join(WORK, "run")
    shutil.rmtree(rundir, ignore_errors=True)
    out = os.path.join(rundir, "result.json")
    try:
        jvm = Jvm(root, cfg, {
            "mode": "run", "gates": ",".join(wl["gates"]),
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "warmup_passes": cfg["warmup_passes"], "min_passes": cfg["min_passes"],
            "out": out}, rundir, deadline)
        jvm.wait()
        with open(out) as fh:
            res = json.load(fh)
    except RuntimeError as e:
        sys.exit(f"run: {e}")
    finally:
        # Gate scratch (replay sources, sinks, lake tables) is per run.
        shutil.rmtree(os.path.join(rundir, "scratch"), ignore_errors=True)

    expected = load("expected.json")
    summary = metrics.summarize(res, expected, jvm.setup_cpu_s, jvm.setup_wall_s,
                                cfg["cores"])
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "regime": regime(root, cfg, res, load_before, ticks_before)}
    report.update(summary["report"])
    os.makedirs(RESULTS, exist_ok=True)
    if a.trace:
        report.update(metrics.trace_report(res, summary, RESULTS, a.workload))
        values = summary["per_layer"]
        spec = load_spec("per_layer")
    else:
        values = summary["end_to_end"]
        spec = load_spec("end_to_end")
    with open(os.path.join(RESULTS, f"{a.workload}-t{a.trace}-last.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }))


def load_spec(kind):
    with open(os.path.join(BENCH, os.pardir, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


if __name__ == "__main__":
    main()
