#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload serve_tagged --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark program from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/; later runs rebuild only when a source file
changed. The build ends with one untimed JVM that sets up every workload and
writes a class-data-sharing archive of the classes they load; every timed
run maps that same archive. The benchmark JVM works under .bench_work/ and removes its store
data when it ends. An untraced run saves its query median to .bench_out/,
where a traced run of the same workload and seed reads it to report the
tracing overhead; the traced run's spans go there too.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. Its metric names are checked against BENCHMARK.json before it
is printed: end_to_end with --trace 0, per_layer with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
# the first run builds, archives and runs: 420 + 300 + 170 s at most
BUILD_TIMEOUT_S = 420
ARCHIVE_TIMEOUT_S = 300
RUN_TIMEOUT_S = 170
HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java(cp, args, run_dir, timeout, jvm_opts=()):
    """Run perfbench.Main in its own process group under run_dir; return
    (exit code, stdout), or None when it timed out and was killed."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + list(jvm_opts) + opens +
           ["-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            env=env, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def classpath():
    """Build if the sources changed since the cached build; return the
    classpath and the class-data-sharing archive (None if it failed)."""
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    st_file = os.path.join(BUILD, "stamp.txt")
    jsa = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(cp_file) and os.path.exists(st_file) and open(st_file).read() == want:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, (jsa if os.path.exists(jsa) else None)
    os.makedirs(BUILD, exist_ok=True)
    for f in (cp_file, st_file, jsa):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    # without an archive every run of this build starts the same way, only slower
    run_dir = os.path.join(WORK, f"archive-{os.getpid()}")
    r = java(cp, ["--archive", os.path.join(run_dir, "w")], run_dir, ARCHIVE_TIMEOUT_S,
             [f"-XX:ArchiveClassesAtExit={jsa}"])
    if r is None or r[0] != 0:
        print("perfbench: class-data-sharing archive not written; runs start without it",
              file=sys.stderr)
        if os.path.exists(jsa):
            os.remove(jsa)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(st_file, "w") as fh:
        fh.write(want)
    return cp, (jsa if os.path.exists(jsa) else None)


def commit_id(src_stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + src_stamp[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources (src/main/scala) not found; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    want = [m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]]

    cp, jsa = classpath()
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    spans = os.path.join(OUT, f"spans-{a.workload}-{a.seed}.json")
    untraced = os.path.join(OUT, f"untraced-{a.workload}-{a.seed}.txt")
    r = java(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", a.trace, "--work", os.path.join(run_dir, "w"), "--spans", spans, "--untraced", untraced,
                  "--commit", commit_id(stamp())],
             run_dir, RUN_TIMEOUT_S, [f"-XX:SharedArchiveFile={jsa}"] if jsa else [])
    if r is None:
        fail(f"workload {a.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    code, stdout = r
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with code {code}", 5)
    result = json.loads(lines[-1])
    got = list(result.get("metrics", {}))
    if got != want:
        fail(f"metric names {got} do not match BENCHMARK.json {want}", 6)
    for l in lines:
        print(l)


if __name__ == "__main__":
    main()
