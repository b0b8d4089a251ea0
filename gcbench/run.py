#!/usr/bin/env python3
"""Benchmark launcher for the geoconvertspark engine.

Builds the harness (gcbench/, linked against the engine in the repository
root) once per source state, then runs one workload in a fresh JVM and
relays its result: one JSON line, the last line of standard output. All
other output goes to standard error.

    python3 gcbench/run.py --workload pip_tile --seed 1 --seconds 5 --trace 0

Workloads: pip_tile, neardup_closure, convert_ingest. See gcbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("pip_tile", "neardup_closure", "convert_ingest")

# Spark 4 on JDK 17 outside spark-submit needs these (the root build uses
# the same list for its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[gcbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose content decides the build: engine and harness
    sources plus both builds' definitions."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for proj in (ROOT, HERE):
        files.append(os.path.join(proj, "build.sbt"))
        pdir = os.path.join(proj, "project")
        if os.path.isdir(pdir):
            files += [os.path.join(pdir, n) for n in os.listdir(pdir)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("engine sources not found next to the benchmark (expected ../src/main/scala/graft and ../build.sbt)")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    fp = fingerprint(source_files())
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.supershell=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    print(f"[gcbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(fp)
    with open(cp_file) as c:
        return c.read().strip()


def java_cmd(cp, tmp, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "gcbench.Main"] + args


def run_jvm(cp, args, deadline_s):
    """Runs the harness; returns the parsed result line, or None."""
    work = os.path.join(TARGET, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.Popen(java_cmd(cp, tmp, args + ["--work", work]),
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline_s))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("[gcbench] error: the run did not finish in time", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print(f"[gcbench] error: harness exited with {proc.returncode}", file=sys.stderr)
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        print("[gcbench] error: no result line", file=sys.stderr)
        return None
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        print("[gcbench] error: malformed result line", file=sys.stderr)
        return None
    return res


def on_term(signum, _frame):
    # unwinds through run_jvm's finally, which kills and reaps the JVM
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (self-tests use small values)")
    ap.add_argument("--inject", choices=("none", "drop"), default="none",
                    help="drop one output row or pair, to test the output checks")
    ap.add_argument("--lookup", choices=("read", "readrange"), default="read",
                    help="convert_ingest tile reads: whole snapshot filtered (default), or "
                         "SnapshotTable.readRange (loses rows on this engine; see README)")
    a = ap.parse_args(argv)
    t0 = time.time()
    cp = build()
    built_s = time.time() - t0
    # a run that had to build may take longer; otherwise stay inside 180 s
    budget = (900.0 if built_s > 5 else 180.0) - (time.time() - t0) - 10.0
    res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--scale", repr(a.scale), "--inject", a.inject,
                       "--lookup", a.lookup], budget)
    if res is None:
        sys.exit(1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
