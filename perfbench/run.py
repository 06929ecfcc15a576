#!/usr/bin/env python3
"""Build and run the repository's benchmark (see perfbench/README.md).

One workload, as the benchmark contract runs it:

    python3 perfbench/run.py --workload query --seed 1 --seconds 5 --trace 0

Every workload, untraced and traced, with tracing overhead and a non-zero
exit if any answer check failed:

    python3 perfbench/run.py --all [--seed 1] [--seconds 5]

Run from the repository root. The first run compiles the engine and the
benchmark with the Scala compiler that ships in Spark's jar directory; later
runs reuse the classes while the sources are unchanged. Everything the
benchmark writes stays inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "bench-classes")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
# The engine's only main dependency is Spark, whose jar directory also ships
# the Scala 2.13 compiler; the root build.sbt points at the same directory.
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SPARK_CP = os.path.join(SPARK_JARS, "*")
# the JVM flags of the root build.sbt's javaOptions, less its heap settings:
# the JDK 17 add-opens Spark needs outside spark-submit
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = ([f for m in ADD_OPENS for f in ("--add-opens", f"{m}=ALL-UNNAMED")] +
             ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])
WORKLOADS = ("query", "ingest")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    """The Scala sources of the engine and of the benchmark main."""
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compiles the engine and the benchmark with scalac in a plain JVM (no
    sbt, so nothing is read from or written to build caches outside the
    checkout) unless the stamp shows the classes are current."""
    files = sources()
    want = stamp(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    if not os.path.exists(os.path.join(SPARK_JARS, "scala-compiler-2.13.17.jar")):
        log(f"no Spark jars with the Scala 2.13.17 compiler under {SPARK_JARS}")
        sys.exit(3)
    log(f"compiling {len(files)} engine and benchmark sources (scalac)")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp = os.path.join(TARGET, "scalac-tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(TARGET, "scalac-args.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    try:
        r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={tmp}", "-cp", SPARK_CP,
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                            "-d", CLASSES, f"@{args}"],
                           cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
        code = r.returncode
    except subprocess.TimeoutExpired:
        code = -1
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        log(f"build failed (scalac exit {code})")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def java_cmd(args, work):
    cp = os.pathsep.join([CLASSES, SPARK_CP])
    return (["java"] + JVM_FLAGS +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, "perfbench.BenchMain"] + args + ["--work-dir", work])


def run_one(workload, seed, seconds, trace, echo=True):
    """Runs one workload in a fresh JVM; returns (exit code, stdout lines)."""
    work = os.path.join(TARGET, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(["--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace)], work)
    lines = []
    err_path = os.path.join(work, "stderr.log")
    err = open(err_path, "w")
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                         text=True, start_new_session=True)
    try:
        # a watchdog kills the whole process group if the run overstays
        def overdue(*_):
            os.killpg(p.pid, signal.SIGKILL)
        signal.signal(signal.SIGALRM, overdue)
        signal.alarm(RUN_TIMEOUT_S)
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
            if echo:
                print(line, end="", flush=True)
        code = p.wait()
    finally:
        signal.alarm(0)
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        err.close()
        if p.returncode != 0:
            with open(err_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
    return code, lines


def result_of(lines):
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def traced_values(lines):
    """End-to-end values a traced run prints as `traced <name>: <v> <unit>`."""
    out = {}
    for line in lines:
        if line.startswith("traced "):
            name, rest = line[len("traced "):].split(": ", 1)
            out[name] = float(rest.split()[0])
    return out


def run_all(seed, seconds):
    ok = True
    for w in WORKLOADS:
        print(f"== {w} (seed {seed}, {seconds} s)", flush=True)
        code0, plain = run_one(w, seed, seconds, 0, echo=False)
        code1, traced = run_one(w, seed, seconds, 1, echo=False)
        r0, r1 = result_of(plain), result_of(traced)
        if code0 != 0 or code1 != 0 or r0 is None or r1 is None:
            print(f"{w}: run failed (exit {code0}/{code1})")
            ok = False
            continue
        for line in plain[:-1]:
            print(line)
        for name, m in r0["metrics"].items():
            print(f"{w} {name}: {m['value']} {m['unit']}")
        for name, m in r1["metrics"].items():
            print(f"{w} {name}: {m['value']} {m['unit']}")
        tv = traced_values(traced)
        for name, m in r0["metrics"].items():
            if name in tv:
                d = tv[name] - m["value"]
                print(f"{w} tracing overhead {name}: {d:+.4f} {m['unit']} "
                      f"({d / m['value']:+.1%} of untraced)")
        for r, kind in ((r0, "untraced"), (r1, "traced")):
            print(f"{w} {kind}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
            ok = ok and r["correct"] and r["failed"] == 0
    print("all answer checks passed" if ok else "SOME ANSWER CHECKS FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to the benchmark under {ROOT}")
        return 2
    ensure_built()
    if a.all:
        return run_all(a.seed, a.seconds)
    code, lines = run_one(a.workload, a.seed, a.seconds, a.trace)
    if code != 0 or result_of(lines) is None:
        log(f"benchmark run failed (exit {code})")
        return code or 4
    return 0


if __name__ == "__main__":
    sys.exit(main())
