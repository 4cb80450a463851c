#!/usr/bin/env python3
"""Projector benchmark: one command, two workloads, one JSON result line.

    python3 perfbench/run.py --workload lifecycle_dense --seed 1 --seconds 3 --trace 0

Run from the repository root. The first run compiles `src/main/scala` and
`perfbench/src` with the Scala compiler shipped in Spark's jar directory
into `.bench_build/` (the CARGO_TARGET_DIR variable, when set, names that
directory instead); later runs reuse the classes while the sources are
unchanged. Each run then starts one JVM (`local[nproc]`) that generates its
inputs from `--seed`, sets up, measures, checks the outputs and prints the
result. Everything a run writes stays under the build directory and the
per-run work directory is deleted before exit.

See perfbench/README.md for the workloads and the definition of every metric.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

WORKLOADS = ("lifecycle_dense", "query_suite")
RESULT_TAG = "PERFBENCH_RESULT "
DETAIL_TAG = "PERFBENCH_DETAIL "
JVM_TIMEOUT_S = 165
# fixed (-Xms = -Xmx): a growing heap doubled the run-to-run spread of query times
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """Spark's jars: under $SPARK_HOME, else next to spark-submit on PATH,
    else in the `unmanagedBase` directory that build.sbt compiles against."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    fail(f"no Spark jars found (looked in {dirs})")


def sources(root, sub):
    found = sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))
    if not found:
        fail(f"no Scala sources under {sub}")
    return found


def scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join(jars + classpath)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + files
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"compilation failed ({log})")


def build(root, build_dir, jars):
    """Compile the program and the benchmark; returns their class dirs."""
    main_src = sources(root, "src/main/scala")
    bench_src = sources(root, "perfbench/src")
    digest = hashlib.sha256()
    for f in main_src + bench_src:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    main_out = os.path.join(build_dir, "classes", "main")
    bench_out = os.path.join(build_dir, "classes", "bench")
    stamp_file = os.path.join(build_dir, "classes", "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return main_out, bench_out
    shutil.rmtree(os.path.join(build_dir, "classes"), ignore_errors=True)
    scalac(jars, [], main_out, main_src, os.path.join(build_dir, "scalac-main.log"))
    scalac(jars, [main_out], bench_out, bench_src, os.path.join(build_dir, "scalac-bench.log"))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return main_out, bench_out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hook: damage one output table before the check runs
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    # re-record query_suite's expected result hashes (after an intended output change)
    ap.add_argument("--record-hashes", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars(root)
    main_out, bench_out = build(root, build_dir, jars)

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([bench_out, main_out] + jars),
              "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", root, "--work", work,
              "--traces", os.path.join(build_dir, "traces"),
              "--corrupt", "1" if args.corrupt else "0",
              "--record-hashes", "1" if args.record_hashes else "0"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_CONF_DIR", None)  # no site configuration from outside the checkout
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{args.workload}-{args.seed}-trace{args.trace}.log")
    result = detail = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    text=True, env=env, cwd=work)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {log})")
        for line in out.splitlines():
            if line.startswith(RESULT_TAG):
                result = json.loads(line[len(RESULT_TAG):])
            elif line.startswith(DETAIL_TAG):
                detail = line[len(DETAIL_TAG):]
            elif line.strip():
                print(line, file=sys.stderr)
        if proc.returncode != 0 or result is None:
            fail(f"benchmark JVM exited with code {proc.returncode} and no result (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if detail is not None:
        print(detail)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
