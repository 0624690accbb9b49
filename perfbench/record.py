#!/usr/bin/env python3
"""Records the expected output fingerprints of every workload gate.

Usage (from the root of a checkout, after perfbench/build.py):
    python3 perfbench/record.py

Runs each gate once in the harness's record mode, which writes the gate's
output as parquet and its fingerprint. Then runs tools/check.py, the
repository's DuckDB oracle check, over those outputs. Only when every
gate passes the check, and its written output fingerprints the same as
the live result, does it rewrite perfbench/expected.json.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    cfg = run.config()
    gates = sorted({g for w in cfg["workloads"] for g in w["gates"]})
    build.build(root)
    rundir = os.path.join(build.WORK, "record")
    shutil.rmtree(rundir, ignore_errors=True)
    out = os.path.join(rundir, "fingerprints.json")
    outputs = os.path.join(rundir, "outputs")
    jvm = run.Jvm(root, cfg, {"mode": "record", "gates": ",".join(gates),
                              "record_dir": outputs, "out": out}, rundir, None)
    jvm.wait()
    with open(out) as fh:
        got = json.load(fh)
    check = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                            cfg["sf_dir"], outputs], capture_output=True, text=True)
    print(check.stdout)
    passed = {line.split(": ")[0] for line in check.stdout.splitlines()
              if ": PASS " in line}
    bad = [g for g in gates if g not in passed or "error" in got[g]
           or not got[g]["parquet_matches"]]
    if bad:
        sys.exit(f"not recorded; these gates failed the check: {', '.join(bad)}")
    expected = {g: {k: got[g][k] for k in ("rows", "hash", "schema")} for g in gates}
    with open(os.path.join(BENCH, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(gates)} fingerprints at {cfg['sf']}")


if __name__ == "__main__":
    main()
