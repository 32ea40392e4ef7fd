#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client driving the engine's
public entry points on a local[nproc] session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the
engine and the benchmark's executor from source into `.bench_build/`
(or `$CARGO_TARGET_DIR`) with the Scala compiler that ships in
`$SPARK_HOME/jars`, and generates the input tables there. Every run
then:

1. draws its plan from the seed (query order per pass, or the delta
   files the gate ingests);
2. runs the executor (`perfbench/scala`), which sets up, warms up,
   runs the check pass and then the timed passes;
3. checks the outputs outside the timed region (DuckDB oracle for the
   queries, index equality for the gate);
4. prints one report line with every metric, then, as the last line,
   the JSON result: end-to-end metrics with `--trace 0`, per-layer
   metrics with `--trace 1`.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir(root):
    """Spark's jars, which include the Scala compiler: `$SPARK_HOME/jars`,
    else the `unmanagedBase` that build.sbt compiles against."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []
    with open(os.path.join(root, "build.sbt")) as f:
        dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        if os.path.isdir(d):
            return d
    fail("no Spark jars found; set SPARK_HOME")


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """Compile the engine and the executor once per source tree."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no engine sources under src/main/scala; run from a graft checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail(f"Scala compiler jars not found in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.rename(tmp, classes)
    return classes


def driver_mem():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_executor(classes, jars, plan_file, run_dir, cpus, mem, timeout):
    """Run the executor JVM in its own process group; kill it on timeout."""
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{mem}", f"-Xmx{mem}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{os.path.join(jars, '*')}",
            "graft.perfbench.Runner", plan_file, run_dir]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"))
    # a local-mode session only talks to itself
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    # these would override spark.local.dir with a dir outside the checkout
    for k in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS"):
        env.pop(k, None)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "executor.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)

        def kill():
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        def on_signal(signum, _frame):
            kill()
            sys.exit(128 + signum)

        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, on_signal)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            kill()
            return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001) and one pass: a quick end-to-end check")
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the root of a graft checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = jars_dir(root)
    classes = build(root, build_dir, jars)
    wl = workloads.WORKLOADS[a.workload]
    scales = {"data": 0.001 if a.smoke else wl["sf"], "kernel": 0.001 if a.smoke else 0.1}
    data = {}
    for key, sf in scales.items():
        d = os.path.join(build_dir, "data", f"sf{sf}")
        gen.write(d, sf)
        data[key] = d
    t_start = time.time()  # the deadline leaves out the one-time build
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    mem = driver_mem()
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan = workloads.plan(a.workload, a.seed, a.seconds, a.trace, cpus,
                              data["data"], data["kernel"], run_dir, smoke=a.smoke)
        plan_file = os.path.join(run_dir, "plan.txt")
        workloads.write_plan(plan, plan_file)
        budget = DEADLINE_S - (time.time() - t_start)
        rc = run_executor(classes, jars, plan_file, run_dir, cpus, mem, budget)
        if rc != 0:
            with open(os.path.join(run_dir, "executor.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"executor {'timed out' if rc is None else f'exited with {rc}'}")
        res = metrics.collect(run_dir)
        check = workloads.check(plan, run_dir, res)
        host = {"cores": cpus, "heap": mem, "sf": scales["data"],
                "graft_extensions": res["extensions_on"]}
        report, out = metrics.result(plan, res, check, host, bool(a.trace))
        print(json.dumps(report, sort_keys=True))
        print(json.dumps(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
