#!/usr/bin/env python3
"""Repository benchmark: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload pack --seed 7 --seconds 10 --trace 0

Workloads: pack, load, curate, catalog (see perfbench/README.md). The first
run in a checkout builds the program and the benchmark from source with sbt;
later runs reuse the build until a source file changes. Everything the run
writes stays under perfbench/ (build output, scratch data, run records).
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("pack", "load", "curate", "catalog")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the program's own
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    # type=int: a non-numeric seed or size fails here, before any work
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--examples", type=int, default=50000,
                   help="corpus size N of the pack and load workloads")
    p.add_argument("--reference", default="",
                   help="expected row count and digest per query "
                        "(default: data/reference-<scale>.json)")
    p.add_argument("--record-reference", action="store_true",
                   help="run every query once and write --reference instead")
    p.add_argument("--survey", action="store_true",
                   help="run every query of the workload's family with the listeners "
                        "on and compare the measured subset with the whole family")
    a = p.parse_args(argv)
    if not 1 <= a.seconds <= 600:
        p.error("--seconds must be in [1, 600]")
    if not 1 <= a.examples <= 100_000_000:
        p.error("--examples must be in [1, 100000000]")
    return a


def sources():
    """Every file the build depends on, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compiles with sbt when a source changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are missing", 3)
    h = hashlib.sha256()
    for f in sources():
        if not os.path.isfile(f):
            die(f"missing build input {os.path.relpath(f, ROOT)}", 3)
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write(r.stdout[-4000:])
        die("build failed", 3)
    classpath = ":".join(jarred(e, i) for i, e in enumerate(lines[-1].split(":")))
    share_classes(classpath)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def jarred(entry, i):
    """A classpath entry as a jar: class directories are zipped into
    .build, because the JVM's class-data archive takes jars only."""
    if not os.path.isdir(entry):
        return entry
    jar = os.path.join(BUILD, f"classes-{i}.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(entry)):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
    return jar


def share_classes(classpath):
    """Writes a class-data archive of the classes a short run of every
    workload loads, so that each later JVM maps them instead of loading
    and verifying them again: it cuts about 4 s of start-up per run. A
    run without the archive is slower to start but measures the same."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    try:
        ok = subprocess.run(
            java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
                "--workload", "catalog", "--seed", "1", "--seconds", "1", "--trace", "1",
                "--examples", "500", "--reference", "", "--mode", "classes"],
            cwd=WORK, env=java_env(), stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=RUN_TIMEOUT_S).returncode == 0
    except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
        ok = False
    if not ok and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def java_cmd(classpath, extra):
    """The JVM command line up to and including the main class."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           # JVM warnings (class-data archive ones among them) go to
           # stderr, so that stdout ends with the result line
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Dspark.ui.enabled=false", f"-Dperfbench.head={git_head()}"] + extra
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main",
                  "--data", os.path.join(HERE, "data"), "--work", WORK, "--out", OUT]


def java_env():
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv):
    a = parse_args(argv)
    classpath = build()
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(classpath, shared) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--examples", str(a.examples),
        "--reference", os.path.abspath(a.reference) if a.reference else "",
        "--mode", "record" if a.record_reference else "survey" if a.survey else "run"]
    proc = subprocess.Popen(cmd, cwd=WORK, env=java_env(), stdout=subprocess.PIPE, text=True)
    one_off = a.record_reference or a.survey
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S * (20 if one_off else 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = out.rstrip("\n").splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if proc.returncode != 0:
        die(f"benchmark exited with {proc.returncode}", proc.returncode or 1)
    if one_off:
        print(lines[-1] if lines else "")
        return
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        die("no result line", 5)
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
