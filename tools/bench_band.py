#!/usr/bin/env python3
"""Per-gate bench noise band: build BENCH_BAND.json from several
quiet-host BENCH_DETAIL-shaped snapshots, and lint a snapshot against
the committed band.

The README documents a suite-level 1.00-1.27x pure-query band, but a
regression smaller than the suite band is invisible at the total
grain; per-gate floors/ceilings from repeated quiet-host runs make a
single gate's genuine slowdown (vs the host's scheduling noise)
detectable on the committed artifacts alone.

  build: python3 tools/bench_band.py build OUT.json SRC1 [SRC2 ...]
         SRC = a JSON file path or a git rev (REV:BENCH_DETAIL.json
         is read via `git show`). Uses queries_seq (the sequential
         regime — wall/concurrent times share the scheduler and are
         not per-gate attributable).
  merge: python3 tools/bench_band.py merge BAND.json OUT.json SRC1 [...]
         Widen/extend a committed band with additional runs whose raw
         per-run files still exist: per gate, floor = min(old, new),
         ceil = max(old, new), n accumulates. Equivalent to build over
         the union of all sources; used when the original runs are no
         longer on disk but the observed host regime has widened (the
         band documents OBSERVED spread — a merge never narrows it).
         Every build/merge records its source identifiers + a
         provenance trail ("sources" / "merges"), so a band widened
         many times is visible in review rather than silently loose;
         check warns when any gate's band is wider than
         MAX_WIDTH_RATIO x its floor.
  check: python3 tools/bench_band.py check BAND.json SNAPSHOT.json
         Fails (exit 1) if any gate's seq time exceeds
         max(ceil * TOL_REL, ceil + TOL_ABS) — the relative guard for
         real gates, the absolute guard so planning-floor gates
         (0.1-0.5 s, swing dominated by fixed overhead) never flap.
         Gates absent from the band (newer than the runs) are listed
         informationally and pass. SNAPSHOT may be a git object
         ("HEAD:BENCH_DETAIL.json") — the committed-blob mode the
         GateRegistrySpec artifact lint uses, immune to a
         driver-overwritten worktree file. check prints the
         snapshot's regime first (sf, cpus, nproc, load_before,
         load_after, band_note; "absent" for a field an older Bench
         did not write), so a breach from a contended window or
         another core count labels itself.

The same rule runs in GateRegistrySpec as an artifact lint over the
COMMITTED BENCH_BAND.json + BENCH_DETAIL.json blobs (git show HEAD:).
"""
import json
import subprocess
import sys

TOL_REL = 1.5   # >1.5x the observed per-gate ceiling = regression
TOL_ABS = 0.3   # +300 ms absolute slack for planning-floor gates
MAX_WIDTH_RATIO = 4.0  # warn when ceil > 4x floor (accumulated slack)
REGIME_KEYS = ("sf", "cpus", "nproc", "load_before", "load_after", "band_note")


def load_doc(src: str) -> dict:
    # Source forms: a JSON file path, "REV:path" (read via git show
    # verbatim), or a bare rev (expanded to REV:BENCH_DETAIL.json).
    # ":" alone cannot distinguish the first two — a rev-qualified
    # path ends with .json too — so try the filesystem first and
    # treat any non-file as a git object.
    import os
    if os.path.isfile(src):
        raw = open(src).read()
    else:
        obj = src if ":" in src else f"{src}:BENCH_DETAIL.json"
        raw = subprocess.run(["git", "show", obj], capture_output=True,
                             text=True, check=True).stdout
    return json.loads(raw)


def load(src: str, doc: dict = None) -> dict:
    # `doc` lets a caller that already parsed the snapshot (check())
    # skip a second read — in committed-blob mode the naive double
    # load would spawn `git show` twice for the same object
    d = doc if doc is not None else load_doc(src)
    q = d.get("queries_seq")
    if q is None:
        # concurrent-regime times are NOT per-gate attributable (they
        # share the scheduler); never silently substitute them
        raise SystemExit(
            f"{src}: no 'queries_seq' in snapshot — bands are built from "
            "the sequential regime only (BENCH_DETAIL-shaped files)")
    # the sf field is REQUIRED and its basename must be sf0.1 EXACTLY:
    # substring matching would admit sf0.12, and an absent field would
    # skip the guard entirely (both reopen the vacuous-pass hole)
    sf = d.get("sf")
    if sf is None:
        raise SystemExit(f"{src}: snapshot has no 'sf' field — cannot "
                         "verify it is an sf0.1 run")
    if sf.rstrip("/").split("/")[-1] != "sf0.1":
        raise SystemExit(f"{src}: band runs must be sf0.1 (got {sf})")
    return q


def _utc_now() -> str:
    import datetime
    return datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


def build(out: str, srcs: list) -> None:
    runs = [load(s) for s in srcs]
    gates = sorted(set().union(*[set(r) for r in runs]))
    band = {}
    for g in gates:
        vals = [r[g] for r in runs if g in r]
        band[g] = {"floor": min(vals), "ceil": max(vals), "n": len(vals)}
    json.dump({"tol_rel": TOL_REL, "tol_abs": TOL_ABS, "runs": len(runs),
               "sources": [{"at": _utc_now(), "op": "build", "srcs": srcs}],
               "gates": band}, open(out, "w"), indent=1, sort_keys=True)
    print(f"wrote {out}: {len(gates)} gates from {len(runs)} runs")


def merge(band_path: str, out: str, srcs: list) -> None:
    band = json.load(open(band_path))
    runs = [load(s) for s in srcs]
    gates = dict(band["gates"])
    for g in sorted(set().union(*[set(r) for r in runs])):
        vals = [r[g] for r in runs if g in r]
        if g in gates:
            gates[g] = {"floor": min(gates[g]["floor"], min(vals)),
                        "ceil": max(gates[g]["ceil"], max(vals)),
                        "n": gates[g]["n"] + len(vals)}
        else:
            gates[g] = {"floor": min(vals), "ceil": max(vals),
                        "n": len(vals)}
    # provenance trail: each merge appends its sources + timestamp, so
    # observed spread stays distinguishable from accumulated slack
    trail = list(band.get("sources", []))
    trail.append({"at": _utc_now(), "op": "merge", "srcs": srcs})
    wide = [g for g, v in gates.items()
            if v["floor"] > 0 and v["ceil"] > MAX_WIDTH_RATIO * v["floor"]]
    doc = {"tol_rel": band["tol_rel"], "tol_abs": band["tol_abs"],
           "runs": band["runs"] + len(runs), "sources": trail,
           "gates": gates}
    json.dump(doc, open(out, "w"), indent=1, sort_keys=True)
    print(f"wrote {out}: {len(gates)} gates, {band['runs']} + {len(runs)} "
          f"runs, merge #{len([t for t in trail if t['op'] == 'merge'])}")
    if wide:
        print(f"WARNING: {len(wide)} gates wider than "
              f"{MAX_WIDTH_RATIO}x floor (accumulated slack?): "
              + ", ".join(sorted(wide)[:10])
              + ("..." if len(wide) > 10 else ""))


def check(band_path: str, snap_path: str) -> int:
    # load_doc for BOTH inputs: the band may also be a git object
    # (`check HEAD:BENCH_BAND.json HEAD:BENCH_DETAIL.json` is the full
    # committed-blob mode the GateRegistrySpec lint mirrors — reading
    # the band from the worktree while the snapshot comes from HEAD
    # could give a different verdict than the Scala lint)
    band = load_doc(band_path)
    doc = load_doc(snap_path)
    snap = load(snap_path, doc)
    # the snapshot's regime (scale, cores, host load, Bench's own
    # label): a breach from another core count or a loaded window
    # reads as such next to the verdict
    print("snapshot regime: " + " ".join(
        f"{k}={json.dumps(doc[k]) if k in doc else 'absent'}"
        for k in REGIME_KEYS))
    gates = band["gates"]
    slow, fresh, wide = [], [], []
    for g, t in sorted(snap.items()):
        if g not in gates:
            fresh.append(g)
            continue
        ceil = gates[g]["ceil"]
        limit = max(ceil * band["tol_rel"], ceil + band["tol_abs"])
        if t > limit:
            slow.append(f"{g}: {t:.3f}s > limit {limit:.3f}s "
                        f"(band [{gates[g]['floor']:.3f}, {ceil:.3f}] "
                        f"over {gates[g]['n']} runs)")
        if gates[g]["floor"] > 0 and ceil > MAX_WIDTH_RATIO * gates[g]["floor"]:
            wide.append(g)
    if fresh:
        print(f"no band yet (new gates, informational): {', '.join(fresh)}")
    if wide:
        print(f"note: {len(wide)} gates' bands wider than "
              f"{MAX_WIDTH_RATIO}x floor: " + ", ".join(wide[:10])
              + ("..." if len(wide) > 10 else ""))
    if slow:
        print("REGRESSIONS beyond the per-gate noise band:")
        print("\n".join(" " + s for s in slow))
        return 1
    print(f"ok: {len(snap) - len(fresh)} gates inside their bands")
    return 0


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "build":
        build(sys.argv[2], sys.argv[3:])
    elif len(sys.argv) >= 5 and sys.argv[1] == "merge":
        merge(sys.argv[2], sys.argv[3], sys.argv[4:])
    elif len(sys.argv) == 4 and sys.argv[1] == "check":
        sys.exit(check(sys.argv[2], sys.argv[3]))
    else:
        raise SystemExit(__doc__)
