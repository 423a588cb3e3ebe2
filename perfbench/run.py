#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness, then runs one
workload in a fresh JVM and relays its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. The build (sbt, offline) lands in
`.bench_build/` (or `$CARGO_TARGET_DIR` when set) and is reused while the
sources are unchanged. The last stdout line is the result JSON; see
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "stream")

# JDK 17 module opens Spark needs outside spark-submit (same list as the
# engine's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Every input of the build: a change to any of them triggers a rebuild.
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(ROOT, rel)
        if not os.path.exists(p):
            fail(f"missing build input {rel}: run from a full checkout")
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, **kw):
    """Run a child process; on SIGTERM/SIGINT stop it and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        try:
            os.killpg(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate()
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return proc.returncode, out


def ensure_built(bdir):
    stamp = source_stamp()
    stamp_file = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Xmx2g", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.server.autostart=false"])
    rc, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for the harness's own tests")
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    bdir = build_dir()
    cp = ensure_built(bdir)
    work = os.path.join(bdir, "work", f"{args.workload}-{os.getpid()}")
    cpus = str(len(os.sched_getaffinity(0)))  # nproc
    jvm = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC",
           # the JDK HTTP server otherwise holds each response body behind
           # the client's delayed ACK of its headers (~40 ms per request)
           "-Dsun.net.httpserver.nodelay=true", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", cpus, "--work", work,
           "--data", os.path.join(HERE, "data", "sf0.001" if args.smoke else "sf0.01"),
           "--hashes", os.path.join(HERE, "expected_hashes.json"),
           "--trace-out", os.path.join(bdir, "trace")]
    if args.smoke:
        jvm.append("--smoke")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    rc, out = run_child(jvm, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                        text=True)
    subprocess.run(["rm", "-rf", work], check=False)
    body = [ln for ln in (out or "").splitlines() if ln.strip()]
    if rc != 0 or not body or not body[-1].startswith("{\"correct\""):
        sys.stderr.write("\n".join(body[-20:]) + "\n")
        fail(f"workload {args.workload} failed (JVM exit {rc})")
    print("\n".join(body))


if __name__ == "__main__":
    main()
