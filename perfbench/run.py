#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload notebook --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt (offline) and caches the classpath under .bench_build/;
later runs reuse it until a source file changes. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Everything a run writes stays under .bench_build/ and its scratch
directory is deleted when it ends. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("notebook", "lake_pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no graft sources next to perfbench/; run from a graft checkout")
    stamp = source_stamp()
    cache = os.path.join(STATE, "classpath.json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); see {log}")
    classpath = lines[-1]
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the expected output fingerprints instead")
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(STATE, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    for d in ("tmp", "local", "warehouse", "artifacts"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_HOSTNAME": "localhost",
    })
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
              "SPARK_GRAFT_SPLIT_BYTES"):
        env.pop(k, None)
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dgraft.artifacts.dir={os.path.join(work, 'artifacts')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", os.path.join(HERE, "data"),
              "--work", work, "--out", STATE,
              "--expected", os.path.join(HERE, "expected"),
              "--record", "1" if a.record else "0"])
    result = None
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = [l for l in out.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        if proc.returncode != 0:
            fail(f"harness exited with {proc.returncode}")
        if a.record:
            return
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            fail("harness printed no result")
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"malformed result: {lines[-1]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
