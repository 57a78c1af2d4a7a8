#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: dag_refresh and incremental_cycles (BENCHMARK.json says why;
perfbench/record.json holds the layer -> metric -> end-to-end mapping and
the baseline). The script builds the engine and the benchmark program from
source with sbt (skipped while the sources are unchanged), generates the
seeded inputs under perfbench/work/ (sf0.1 table sizes; --scale picks
another), runs the workload on Spark local[nproc] in one JVM, compares
dag_refresh's query results with their DuckDB oracle through
tools/compare.py, and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 1 the metrics are the per-layer ones and the spans are written
to perfbench/out/trace-<workload>-<seed>.json.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

# inputs per workload (see gen.generate)
WORKLOADS = {
    "dag_refresh": dict(tables=True),
    "incremental_cycles": dict(cycles=30, delta_frac=0.02),
}
# input scale of the benchmark's runs; --scale picks another one, for
# measuring how a workload's time splits between fixed cost and data work
SCALE = "sf0.1"
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark installation ($SPARK_HOME) whose jars the engine compiles
    and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME does not name a Spark installation with a jars/ directory")
    return home


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt")]
    for r in [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
              os.path.join(HERE, "project")]:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine sources plus the benchmark program, unless the
    stamp shows these exact sources were compiled already."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(HERE, 'target', 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               SPARK_HOME=spark_home())
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def jvm_cmd(work):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + opens +
            ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main"])


def run_jvm(args, work, deadline, prepare):
    """Starts the benchmark JVM, runs `prepare()` (input generation) while
    the JVM and Spark start, and returns the JVM's stdout lines. The JVM
    waits for `<work>/inputs.ready`, which holds the inputs' digest. Its
    stderr goes to a log whose `[perfbench]` lines are echoed."""
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(jvm_cmd(work) + args, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            digest = prepare()
            with open(os.path.join(work, "inputs.tmp"), "w") as fh:
                fh.write(digest)
            os.rename(os.path.join(work, "inputs.tmp"), os.path.join(work, "inputs.ready"))
            out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
        except BaseException as e:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                fail("benchmark JVM did not finish in time", 3)
            raise
    with open(log) as fh:
        text = fh.read()
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if p.returncode != 0:
        sys.stderr.write(text[-6000:])
        fail(f"benchmark JVM exited with {p.returncode}", 4)
    return out.splitlines()


def check_queries(result, data, qdir, deadline):
    """Compares the query results the JVM wrote to `qdir` with their DuckDB
    oracle through tools/compare.py; each query is one more operation,
    failed unless compare.py prints OK for it (an empty result fails)."""
    with open(os.path.join(qdir, "oracle_sql.json")) as fh:
        names = set(json.load(fh))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"), data, qdir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=max(10.0, deadline - time.time()))
    ok = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("OK ")}
    for line in r.stdout.splitlines():
        if not line.startswith(("OK ", "  note")) and line.strip():
            print(f"[perfbench] compare.py: {line}", file=sys.stderr)
    bad = len(names - ok)
    result["attempted"] += len(names)
    result["failed"] += bad
    result["correct"] = result["correct"] and bad == 0
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(gen.SCALES), default=SCALE,
                    help="input table sizes (default %(default)s)")
    a = ap.parse_args()

    build()
    t0 = time.time()
    spec = dict(WORKLOADS[a.workload], scale=a.scale)
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        lines = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--data", data, "--work", work,
                         "--cpus", str(len(os.sched_getaffinity(0))),
                         "--t0-ms", str(int(t0 * 1000)),
                         "--out", os.path.join(HERE, "out")],
                        work, t0 + RUN_LIMIT_S, lambda: gen.generate(data, a.seed, spec))
        result = json.loads(lines[-1]) if lines else None
        if not isinstance(result, dict) or \
                set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"benchmark JVM printed no result line: {lines[-3:]}", 5)
        qdir = os.path.join(work, "query_out")
        if os.path.isdir(qdir):
            result = check_queries(result, data, qdir, t0 + RUN_LIMIT_S)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
