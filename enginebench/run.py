#!/usr/bin/env python3
"""Runs one engine benchmark workload and prints its result.

    python3 enginebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source (enginebench/build.sh) into $CARGO_TARGET_DIR, or
.bench_build when that is unset; later runs rebuild only when a source
changed. All scratch data lives under that directory and is removed when the
run ends. The last line of standard output is the JSON result; everything
else goes to standard error. A traced run (--trace 1) also writes its spans
to <build dir>/traces/<workload>-seed<N>.json.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ["validate_wide", "daily_resume", "corpus_funnel"]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "enginebench")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if submit is None:
        sys.exit("run.py: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_stamp():
    """Hash of every file the build compiles, to tell when to rebuild."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sh")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("run.py: no engine sources under src/main/scala")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp()
    classes = os.path.join(build_dir, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    done = subprocess.run(["bash", os.path.join(HERE, "build.sh"), build_dir],
                          stdout=sys.stderr, env=env, timeout=BUILD_TIMEOUT_S)
    if done.returncode != 0:
        sys.exit(f"run.py: build failed with exit code {done.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.join(ROOT, build_dir)
    classes = build(build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    trace_out = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = [java(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "enginebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"run.py: {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for line in lines:
        if line is not result:
            print(line, file=sys.stderr)
    if result is not None:
        print(result)
    sys.exit(proc.returncode if result is not None else 1)


if __name__ == "__main__":
    main()
