#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 ragbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The first run builds
the engine and the benchmark with sbt, packs the classes into jars and
runs one class-loading pass whose loaded classes the JVM archives
(AppCDS), all under .bench_build/; later runs reuse both while no source
is newer than the build. Each run is one JVM with Spark in local mode on
every core. The last line printed is the result object; a detailed
report of the run is written to .bench_build/reports/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(OUT, "classpath.txt")
ARCHIVE = os.path.join(OUT, "classes.jsa")
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 280
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"ragbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change calls for a rebuild."""
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                yield os.path.join(d, f)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it, so nothing it started outlives this run."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{os.path.basename(cmd[0])} exceeded {timeout} s")
    return p.returncode, out


def jar(directory, path):
    """Pack a class directory into a jar: the class archive accepts jar
    entries only."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, files in os.walk(directory):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, directory))


def java(cp, args, work, archive_flag, log, timeout):
    """Run the benchmark's main in a fresh work directory; return its
    standard output."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           archive_flag, "-Xlog:disable", "-Xlog:all=warning,cds*=off:stderr"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "ragbench.Main", "--work", work] + args
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as err:
            code, out = run_group(cmd, timeout, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark exited with code {code}")
    return out


def classpath():
    """Build if any source is newer than the last build; return the
    runtime classpath."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources() if os.path.exists(f)):
            with open(CLASSPATH) as f:
                return f.read().strip()
    os.makedirs(OUT, exist_ok=True)
    for stale in (CLASSPATH, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        code, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, stdout=f, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail("build failed")
    entries = []
    os.makedirs(os.path.join(OUT, "jars"), exist_ok=True)
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(e):
            path = os.path.join(OUT, "jars", f"classes{i}.jar")
            jar(e, path)
            e = path
        entries.append(e)
    cp = os.pathsep.join(entries)
    java(cp, ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "1",
              "--report", os.path.join(OUT, "train.json")],
         os.path.join(OUT, "work", "train"), f"-XX:ArchiveClassesAtExit={ARCHIVE}",
         os.path.join(OUT, "logs", "train.log"), TRAIN_TIMEOUT_S)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}; run from the root of a repository checkout")
    cp = classpath()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = java(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--report", os.path.join(OUT, "reports", f"{tag}.json")],
               os.path.join(OUT, "work", f"{tag}-{os.getpid()}"), f"-XX:SharedArchiveFile={ARCHIVE}",
               os.path.join(OUT, "logs", f"{tag}.log"), RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
