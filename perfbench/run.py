#!/usr/bin/env python3
"""Benchmark launcher for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. Each run starts one JVM
(`perfbench.Main`), whose last stdout line -- the result object -- is
printed as this script's last line. Everything a run writes stays under
`.bench_build/` in the checkout, and the run's scratch directory is
removed when it ends.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("calls_pipeline", "contacts_prepare", "engine_panel")
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 840  # the first run in a checkout may take 900 s
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the same list as the
# root build's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, to reuse a finished build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit, stdout):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def ensure_build(deadline):
    """Compile with sbt unless a build of these exact sources exists;
    returns the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.digest")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    out_path = os.path.join(BUILD, "sbt.out")
    with open(out_path, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         HERE, env, deadline - time.time(), out)
    with open(out_path) as f:
        lines = [x.strip() for x in f if x.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("".join(x + "\n" for x in lines[-30:]))
        fail(f"build failed (sbt exit {rc})")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return cp, digest


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    start = time.time()
    # a stopped launcher stops its build or JVM too (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources here ({need} is missing); run from "
                 "the root of a graft checkout")
    built_before = os.path.exists(os.path.join(BUILD, "classpath.txt"))
    limit = RUN_LIMIT_S if built_before else BUILD_LIMIT_S
    cp, digest = ensure_build(start + limit - 60)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = os.path.join(BUILD, "records", f"{tag}.json")
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dperfbench.commit={git_commit()}",
        f"-Dperfbench.digest={digest}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work,
        "--data", os.path.join(HERE, "data"),
        "--expected", os.path.join(HERE, "expected", "engine_panel_rows.json"),
        "--record", record,
    ]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            rc = run_bounded(cmd, work, dict(os.environ),
                             start + limit - time.time(), out)
        with open(out_path) as f:
            lines = [x.rstrip("\n") for x in f if x.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for x in lines[:-1]:
        print(x)
    if rc is None:
        fail(f"run exceeded {limit} s and was stopped")
    if rc != 0 or not lines:
        fail(f"run failed (exit {rc})")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("malformed result line")
    print(lines[-1])


if __name__ == "__main__":
    main()
