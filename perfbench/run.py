#!/usr/bin/env python3
"""Run one workload of the repo benchmark.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into perfbench/target, packs the
compiled classes into a jar and stores the classpath under
.bench_build/perfbench; it then runs every workload briefly once to archive
the classes they load (a JVM class-data archive), which cuts each later
JVM's start-up by seconds. Later runs reuse both until a source file
changes. The run itself is one JVM (perfbench.Main); its last stdout line,
a JSON object, is the result. See perfbench/GLOSSARY.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("scan", "lookup", "ingest", "pipeline")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 500
TRAIN_LIMIT_S = 150
ARCHIVE = os.path.join(STATE, "classes.jsa")

JVM_OPTS = [
    "--add-modules=jdk.incubator.vector",
    # JVM warnings to stderr: stdout carries the result
    "-Xlog:disable", "-Xlog:all=warning:stderr",
    "-Xms2g", "-Xmx2g",
    "-Dspark.ui.enabled=false",
] + [
    opt
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    )
    for opt in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    home = os.path.expanduser("~")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.join(home, ".sbt", "repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
    ])
    return env


def classpath():
    """The run classpath, building first when the sources changed."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    print("perfbench: building with sbt ...", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    if os.pathsep not in cp or not os.path.isdir(os.path.join(HERE, "target")):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath", 3)
    shutil.rmtree(STATE, ignore_errors=True)
    os.makedirs(STATE)
    # the JVM archives classes from jars only, so pack each directory
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(STATE, "classes-%d.jar" % i)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in os.walk(e):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), e))
            e = jar
        entries.append(e)
    cp = os.pathsep.join(entries)
    train(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java(cp, work, args, extra=()):
    """perfbench.Main in its own session, its temp files under `work`."""
    cmd = (["java"] + JVM_OPTS + list(extra) + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", cp, "perfbench.Main"] + args + ["--work", work, "--out", os.path.join(STATE, "traces")])
    return subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)


def finish(proc, work, limit):
    """Wait for `proc` up to `limit` seconds, killing its group on timeout
    or when this script is stopped; delete `work`. Returns its stdout, or
    None on timeout."""
    out = None
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return out


def fresh_work():
    work = os.path.join(STATE, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def train(cp):
    """Archive the classes one short pass through every workload loads. A
    failed pass leaves no archive, and runs start without one."""
    print("perfbench: archiving loaded classes ...", file=sys.stderr)
    work = fresh_work()
    proc = java(cp, work, ["--workload", "train", "--seed", "0", "--seconds", "0"],
                ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    out = finish(proc, work, TRAIN_LIMIT_S)
    if out is None or proc.returncode != 0 or not os.path.exists(ARCHIVE):
        print("perfbench: class archive failed; running without it", file=sys.stderr)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()
    # a stop request unwinds through finish(), which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at %s/src/main/scala/graft: run from a full checkout" % ROOT)
    cp = classpath()

    work = fresh_work()
    extra = ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []
    proc = java(cp, work, ["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", args.trace], extra)
    out = finish(proc, work, RUN_LIMIT_S)
    if out is None:
        fail("run exceeded %d s" % RUN_LIMIT_S, 4)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out[-4000:])
        fail("the run printed no result (exit %d)" % proc.returncode, 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.stdout.flush()
    if proc.returncode != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
