#!/usr/bin/env python3
"""Self-tests for the benchmark, at a tiny input size.

For every workload:
  * a run on seed 1 is correct and reports exactly the end-to-end metrics
    of BENCHMARK.json, each a finite number with its declared unit;
  * a run on seed 2 reads different inputs (the harness logs an input
    digest) but reports the same metric names;
  * a run with one output row or pair dropped (--inject drop) is caught:
    failed > 0 and correct is false;
  * a traced run reports exactly the per-layer metrics of BENCHMARK.json;
  * convert_ingest only: a run whose tile reads go through
    SnapshotTable.readRange (--lookup readrange) is correct. This case fails
    while the engine's manifest rounds bucket bounds (README, "Known engine
    defect"); the gated runs read tiles without readRange.

    python3 gcbench/selftest.py [workload ...]

Exits 0 when every check passes. Takes a few minutes: each case starts a
JVM and a Spark session.
"""
import json
import math
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, seed, trace=0, inject="none", lookup="read"):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE, "--inject", inject,
         "--lookup", lookup],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    digest = re.search(r"input digest ([0-9a-f]+)", p.stderr)
    return res, digest.group(1) if digest else None


def check_metrics(res, declared, what):
    got = res["metrics"]
    assert set(got) == set(declared), f"{what}: metric names {sorted(got)} != {sorted(declared)}"
    for name, unit in declared.items():
        v = got[name]["value"]
        assert isinstance(v, (int, float)) and math.isfinite(v), f"{what}: {name} = {v}"
        assert got[name]["unit"] == unit, f"{what}: {name} unit {got[name]['unit']} != {unit}"


def main():
    s = spec()
    e2e = {m["name"]: m["unit"] for m in s["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in s["per_layer"]}
    workloads = sys.argv[1:] or [w["name"] for w in s["workloads"]]
    failures = 0
    for w in workloads:
        first = {}

        def seed1():
            a, first["digest"] = run(w, 1)
            check_metrics(a, e2e, f"{w} seed 1")
            assert a["attempted"] >= 1, a
            assert a["correct"] and a["failed"] == 0, \
                f"{a['failed']} of {a['attempted']} operations failed (see the FAILED lines of a run)"
            return "seed 1 correct"

        def seed2():
            b, db = run(w, 2)
            check_metrics(b, e2e, f"{w} seed 2")
            da = first.get("digest") or run(w, 1)[1]
            assert da and db and da != db, f"input digests {da} / {db} should differ"
            return "seed 2 changes inputs, not metric names"

        def inject():
            c, _ = run(w, 1, inject="drop")
            assert c["failed"] > 0 and not c["correct"], f"injected drop not caught: {c}"
            return f"injected drop caught ({c['failed']} of {c['attempted']} failed)"

        def traced():
            t, _ = run(w, 1, trace=1)
            check_metrics(t, layers, f"{w} traced")
            return "traced run reports every per-layer metric"

        def readrange():
            r, _ = run(w, 1, lookup="readrange")
            assert r["correct"] and r["failed"] == 0, \
                f"{r['failed']} of {r['attempted']} operations failed with readRange tile reads"
            return "readRange tile reads correct"

        cases = (seed1, seed2, inject, traced) + ((readrange,) if w == "convert_ingest" else ())
        for case in cases:
            try:
                print(f"ok   {w}: {case()}", flush=True)
            except AssertionError as e:
                failures += 1
                print(f"FAIL {w} {case.__name__}: {e}", flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
