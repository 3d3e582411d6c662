#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload <skew_stream|corpus_index>
        --seed <n> --seconds <n> --trace <0|1>
    python3 perfbench/run.py --smoke      # every correctness check, tiny inputs

Run from the root of a checkout. The first run builds into the build
directory ($CARGO_TARGET_DIR, else .bench_build): it compiles the engine
(src/main/scala) and the harness (perfbench/src) into one jar, then runs the
stream workload's smoke mode once with -XX:ArchiveClassesAtExit to record a
class-data archive that every later JVM starts from. Later runs reuse both until a source file
changes. Each run works in its own directory under the build directory and
removes it afterwards. The last line of standard output is the result
object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["skew_stream", "corpus_index"]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
# A fixed-size heap with the parallel collector: its peak resident set and
# pauses vary less from run to run than with a growing G1 heap.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars/ directory: $SPARK_HOME's, else the pip pyspark package's."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        dirs += [os.path.join(d, "jars") for d in spec.submodule_search_locations]
    for jars in dirs:
        if os.path.isdir(jars) and any(f.startswith("spark-sql_") for f in os.listdir(jars)):
            return jars
    fail("no Spark jars found (set SPARK_HOME)")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """Compile the engine and the harness with the Scala compiler Spark ships,
    pack them into a jar and record the class-data archive (it takes Spark's
    start-up class loading off every run)."""
    engine = os.path.join(root, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail(f"no engine sources at {engine}: run from the root of a checkout")
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs + sorted(os.listdir(jars)):
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    jar = os.path.join(build_dir, "graftbench.jar")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    for f in (stamp_file, jar, archive_path(build_dir)):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        fail("compilation failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    t0 = time.time()
    code, _, _ = run_jvm(build_dir, jar, jars, "skew_stream", 1, 1, 0, True, BUILD_TIMEOUT_S,
                         ["-XX:ArchiveClassesAtExit=" + archive_path(build_dir)])
    if code != 0 or not os.path.exists(archive_path(build_dir)):
        print("perfbench: no class-data archive recorded; runs start without it", file=sys.stderr)
    print(f"perfbench: recorded the class-data archive in {time.time() - t0:.1f}s",
          file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


def archive_path(build_dir):
    return os.path.join(build_dir, "graftbench.jsa")


def run_jvm(build_dir, jar, jars, workload, seed, seconds, trace, smoke, timeout, jvm_opts):
    """Run one JVM; returns (exit code or None on timeout, result, report)."""
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, "runs", f"{workload}-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(build_dir, f"last-{workload}.log")
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-XX:+UseParallelGC", f"-Xms{HEAP}", "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC"] + jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([jar, os.path.join(jars, "*")]), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--run-dir", run_dir,
            "--result", result, "--artifact-dir", os.path.join(build_dir, "artifacts")]
    if smoke:
        cmd.append("--smoke")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("SPARK_CONF_DIR", None)
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT, env=env)
            try:
                code = p.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                code = None
        if code != 0 or not os.path.exists(result):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            print(f"perfbench: {workload}: JVM " +
                  ("timed out" if code is None else f"exited with {code}"), file=sys.stderr)
            return code if code != 0 else 1, None, None
        with open(result) as fh:
            res = json.loads(fh.read())
        with open(result + ".report.json") as fh:
            report = json.loads(fh.read())
        return 0, res, report
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def keep_report(build_dir, report, name):
    os.makedirs(os.path.join(build_dir, "reports"), exist_ok=True)
    with open(os.path.join(build_dir, "reports", name), "w") as fh:
        json.dump(report, fh, indent=1)


def show(res, report):
    print(f"# {report['workload']} seed={report['seed']} traced={report['traced']} "
          f"spark={report['spark_version']} cores={report['cores']}")
    for k, m in res["metrics"].items():
        print(f"{k} {m['value']} {m['unit']}")
    for k, m in report.get("report", {}).items():
        print(f"  ({k} {m['value']} {m['unit']})")
    for k, c in report.get("checks", {}).items():
        print(f"  check {k}: {c['passed']} passed, {c['failed']} failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload's correctness checks on tiny inputs")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
        fail("run from the root of a checkout (perfbench/run.py not found)")
    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jar = build(root, build_dir, jars)
    opts = []
    if os.path.exists(archive_path(build_dir)):
        opts.append("-XX:SharedArchiveFile=" + archive_path(build_dir))
    if a.smoke:
        code, res, report = run_jvm(build_dir, jar, jars, "all", a.seed, 1, 0, True,
                                    RUN_TIMEOUT_S, opts)
        if code != 0:
            fail("smoke run failed")
        for w in WORKLOADS:
            show(res[w], report[w])
        keep_report(build_dir, report, f"smoke-seed{a.seed}.json")
        ok = all(res[w]["correct"] for w in WORKLOADS)
        print(json.dumps({"smoke": "pass" if ok else "fail"}))
        sys.exit(0 if ok else 1)
    code, res, report = run_jvm(build_dir, jar, jars, a.workload, a.seed, a.seconds, a.trace,
                                False, RUN_TIMEOUT_S, opts)
    if code != 0:
        fail(f"{a.workload}: run failed")
    keep_report(build_dir, report, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    show(res, report)
    print(json.dumps(res))

if __name__ == "__main__":
    main()
