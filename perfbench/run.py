#!/usr/bin/env python3
"""Sync benchmark for graft: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload selftest --seed <n>

Run from the repository root. The first run builds graft's main sources
together with the harness in perfbench/ (its own sbt build, offline) and
stamps the build; later runs reuse it until a source changes. Each run starts
one JVM, which runs the workload with the sizes in perfbench/workloads.json
and prints `RESULT <json>`. This script prints a metric table and, as its
last stdout line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Data, Spark scratch and logs go to perfbench/.work/ and are removed after
the run; a traced run keeps its spans in perfbench/out/.
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
GRAFT_SRC = os.path.join(ROOT, "src", "main")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CDS_DIR = os.path.join(HERE, "target", "cds")
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
RUN_LIMIT_S = 170  # one run must end within 180 s once built
BUILD_LIMIT_S = 850
MAX_CORES = 4
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same set to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [GRAFT_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build():
    stamp = source_stamp()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    shutil.rmtree(CDS_DIR, ignore_errors=True)  # archives of the old jar
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt package)", file=sys.stderr)
    rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if rc != 0:
        fail("build failed" if rc is not None else "build timed out")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def workload_params(name):
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    if name == "selftest":
        params = {}
    elif name in cfg["workloads"]:
        params = dict(cfg["workloads"][name]["params"])
    else:
        fail(f"unknown workload {name}; known: {', '.join(cfg['workloads'])}")
    params["cores"] = min(MAX_CORES, os.cpu_count() or 1)
    return params


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(GRAFT_SRC, "scala", "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}; run from a checkout")
    params = workload_params(a.workload)
    build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jars = os.path.join(SPARK_HOME, "jars", "*")
    # Class-data sharing: the first run of a workload after a build dumps
    # the classes it loaded; later runs map them instead of loading and
    # verifying Spark's classes again, which shortens set-up.
    os.makedirs(CDS_DIR, exist_ok=True)
    archive = os.path.join(CDS_DIR, f"{a.workload}.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", cds,
            "-Xlog:disable", "-Xlog:all=error:stderr",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{JAR}{os.pathsep}{jars}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work]
           + [x for k, v in params.items() for x in ("--param", f"{k}={v}")])
    t0 = time.time()
    try:
        rc, out = run_bounded(cmd, RUN_LIMIT_S, cwd=work, stdout=subprocess.PIPE,
                              text=True)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            shutil.move(os.path.join(work, "spans.jsonl"), os.path.join(
                HERE, "out", f"{a.workload}-seed{a.seed}-spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_LIMIT_S} s", 3)
    lines = out.splitlines()
    for line in lines:
        if not line.startswith("RESULT "):
            print(line)
    if a.workload == "selftest":
        sys.exit(rc)
    results = [l for l in lines if l.startswith("RESULT ")]
    if rc != 0 or not results:
        fail(f"run failed (exit {rc})", 1)
    res = json.loads(results[-1][len("RESULT "):])
    for k, v in res["metrics"].items():
        print(f"  {k:44s} {v['value']:>16.6g} {v['unit']}")
    print(f"  {'failed_op_frac':44s} {res['failed'] / res['attempted']:>16.6g} ratio"
          f"  ({res['failed']} of {res['attempted']} operations)")
    print(f"  wall {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
