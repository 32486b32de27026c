#!/usr/bin/env python3
"""ETL benchmark runner.

Run from the repository root:

    python3 etlbench/run.py --workload sync --seed 1 --seconds 20 --trace 0

It builds the program and the benchmark from source (once per source
state; later runs reuse the build), starts one JVM directly on the built
classpath with a fixed heap, and prints the JVM's result line as the last
line of standard output. The run's full artifact (every metric, the
operations, the spans of a traced run, the machine state) is written to
etlbench/results/<workload>-seed<seed>-trace<0|1>.json.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "etlbench")
BUILD = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(BUILD, "etlbench-classpath.txt")
STAMP = os.path.join(BUILD, "etlbench-sources.sha256")
# One JVM with a fixed heap.
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every input of the build: both builds' definitions and main sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(d, n) for d in (ROOT, BENCH, os.path.join(ROOT, "project"),
                                          os.path.join(BENCH, "project"))
             if os.path.isdir(d) for n in os.listdir(d)
             if n.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sources_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def build():
    """Compile the program and the benchmark; returns the runtime classpath."""
    digest = sources_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([os.environ.get("SBT_OPTS", "")] + opts).strip()
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BENCH, env, BUILD_TIMEOUT_S, subprocess.PIPE)
    lines = out.decode(errors="replace").splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code})")
    cp = [l for l in lines if "scala-2.13" in l and not l.startswith("[")]
    if not cp:
        fail("build produced no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"etlbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sync", "dashboard"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala/graft; "
             "run from the repository root")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    cp = build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BENCH, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(BENCH, "results", f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the root build's code cache, which generated classes do not fill; the
    # JDK's default JIT thread count (see README.md for why not the root's 16)
    jvm = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=2g",
            "-XX:+UseCodeCacheFlushing",
            "-XX:+PerfDisableSharedMem", f"-Djava.io.tmpdir={work}/tmp",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "etlbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", out])
    try:
        code, stdout = run_group(jvm, ROOT, dict(os.environ), JVM_TIMEOUT_S,
                                 subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.decode(errors="replace").strip().splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for l in lines[:-1] if result else lines:
        print(l, file=sys.stderr)
    if result is None:
        fail(f"the JVM printed no result (exit {code})")
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
