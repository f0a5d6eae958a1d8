#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine's sources
(`src/main/scala`) together with the benchmark driver (`perfbench/src`)
with sbt; later runs reuse the build while no source changed. The JVM's
output is passed through; its last line is the result JSON. The exit code
is 0 only when every operation succeeded and every output check held.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
WORKLOADS = ("etl_cycle", "query_mix", "delta_lake")
FIXTURE = os.path.join(BENCH, "fixtures", "sf0.01")
DIGESTS = os.path.join(BENCH, "oracle", "digests_sf0.01.json")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Fingerprint of every input of the build: names, sizes and contents."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC)}: run from a full checkout")
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    print("[perfbench] building (sbt compile)", flush=True)
    t0 = time.time()
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None,
                    help="traced run: where to write the span file "
                         "(default perfbench/out/trace_<workload>.json)")
    args = ap.parse_args()

    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    work = os.path.join(BENCH, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    trace_out = args.trace_out or os.path.join(BENCH, "out", f"trace_{args.workload}.json")
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--fixture", FIXTURE, "--digests", DIGESTS,
        "--work", os.path.join(work, "data"), "--trace-out", os.path.abspath(trace_out)])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if proc.returncode != 0 or not last.startswith("{"):
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
