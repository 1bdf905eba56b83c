#!/usr/bin/env python3
"""Gateway benchmark entry point.

Builds graft's main classes and the benchmark straight from source with the
Scala compiler jar that ships in the build's unmanaged jar directory (no sbt,
build.sbt untouched), then runs one workload in a fresh JVM:

    python3 gatebench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
    python3 gatebench/run.py --selftest          # the benchmark's own tests
    python3 gatebench/run.py --smoke             # every workload once, tiny scale
    python3 gatebench/run.py --build             # build only

Run it from the root of a checkout. Build output goes to $CARGO_TARGET_DIR
(default .bench_build); scratch data to .bench_work; reports and traces to
.bench_out. The last line of stdout is the run's JSON result.
"""

import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# BENCHMARK.json names the first two; analytic runs on request (one
# pass of its 22 reads and 3 writes outlasts the benchmark's run length).
WORKLOADS = ["interactive", "export", "analytic"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg, code=2):
    print(f"gatebench: {msg}", file=sys.stderr)
    sys.exit(code)


def jar_dir():
    """The unmanaged jar directory build.sbt compiles against."""
    env = os.environ.get("GATEBENCH_JARS")
    if env:
        return env
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        die("build.sbt not found: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        die("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def scala_version():
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', open(os.path.join(ROOT, "build.sbt")).read())
    if not m:
        die("build.sbt names no scalaVersion")
    return m.group(1)


def sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha1(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def child_env(work):
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keep every JVM this run starts (the engine child included) writing
    # inside the checkout: temp files, Spark block manager dirs, no
    # hsperfdata under the system temp dir.
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("SPARK_HOME", None)
    return env


def compile_tree(name, srcs, classpath, out_root, work):
    """Compile `srcs` into out_root/name unless its stamp is current."""
    jars = jar_dir()
    stamp = digest(srcs, classpath)
    dest = os.path.join(out_root, name)
    stamp_file = os.path.join(dest, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    v = scala_version()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{j}-{v}.jar")
                               for j in ("compiler", "library", "reflect"))
    for j in compiler.split(os.pathsep):
        if not os.path.isfile(j):
            die(f"scala compiler jar missing: {j}")
    argfile = os.path.join(work, f"{name}.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath, "@" + argfile]
    t0 = time.time()
    print(f"gatebench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    try:
        r = subprocess.run(cmd, env=child_env(work), timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"compiling {name} timed out")
    if r.returncode != 0:
        die(f"compiling {name} failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    print(f"gatebench: compiled {name} in {time.time() - t0:.1f}s", file=sys.stderr)
    return dest


def build(work):
    main_src = os.path.join(ROOT, "src", "main", "scala")
    out_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out_root, exist_ok=True)
    jars = os.path.join(jar_dir(), "*")
    main = compile_tree("main", sources(main_src), jars, out_root, work)
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, main, dirs_exist_ok=True)
    bench_cp = os.pathsep.join([main, jars])
    bench = compile_tree("bench", sources(os.path.join(BENCH_DIR, "src")),
                         bench_cp, out_root, work)
    return os.pathsep.join([bench, main, jars])


# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (the list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classpath, main_class, args, work):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, main_class] + args
    # Own process group: whatever the JVM leaves behind is reaped below.
    proc = subprocess.Popen(cmd, env=child_env(work), stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        print("gatebench: run timed out", file=sys.stderr)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if lines:
        print(lines[-1])
        sys.stdout.flush()
    return proc.returncode if lines else 3


def smoke(classpath, work):
    """Every workload once at tiny scale, untraced and traced, plus one
    run with an injected wrong row that must fail."""
    bad = []
    for w in WORKLOADS:
        for t in ("0", "1"):
            rc = run_jvm(classpath, "gatebench.Main",
                         ["--workload", w, "--seed", "1", "--seconds", "2", "--trace", t,
                          "--scale", "tiny", "--work", os.path.join(work, f"{w}-{t}")], work)
            if rc != 0:
                bad.append(f"{w} trace={t} exited {rc}")
    rc = run_jvm(classpath, "gatebench.Main",
                 ["--workload", "export", "--seed", "1", "--seconds", "2", "--trace", "0",
                  "--scale", "tiny", "--work", os.path.join(work, "inject"),
                  "--inject-wrong-row", "1"], work)
    if rc == 0:
        bad.append("an injected wrong row was not caught")
    for b in bad:
        print(f"gatebench: smoke FAILED {b}", file=sys.stderr)
    print(f"gatebench: smoke {'failed' if bad else 'passed'}", file=sys.stderr)
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="full", choices=["full", "tiny"],
                    help="tiny: smallest data, for smoke runs")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--build", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("src/main/scala not found: run from the root of a graft checkout")
    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        classpath = build(work)
        if a.build:
            return 0
        if a.selftest:
            return run_jvm(classpath, "gatebench.SelfTest", [], work)
        if a.smoke:
            return smoke(classpath, work)
        if not a.workload:
            die("--workload is required")
        return run_jvm(classpath, "gatebench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--scale", a.scale, "--work", work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
