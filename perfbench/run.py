#!/usr/bin/env python3
"""End-to-end benchmark of the CDC wire path and the query heads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_bulk --seed 1 --seconds 10 --trace 0

Workloads: cdc_bulk, cdc_oltp, query_heads (see perfbench/NOTES.md).
The first run builds the program and the harness with sbt (offline) into
the checkout; later runs reuse the build while the sources are unchanged.
The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the program's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def java_env():
    """The harness's environment: Spark's scratch space stays in the work
    directory (SPARK_LOCAL_DIRS would override spark.local.dir)."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def java_cmd(cp, work, archive_flag):
    cmd = ["java", archive_flag, "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
                  "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]


def build():
    """Compile and package the program and the harness, then record a
    class-data-sharing archive of a Spark start (it roughly halves JVM
    start-up for every run). Returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx4g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspathAsJars"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=850)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log_path}", 3)
    cp = lines[-1].strip()
    work = os.path.join(BUILD, "warm")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    archive = os.path.join(BUILD, "app.jsa")
    with open(log_path, "a") as log:
        subprocess.run(java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={archive}") +
                       ["--workload", "cdc_bulk", "--seed", "0", "--seconds", "1",
                        "--work", work, "--data", work, "--answers", work, "--warm"],
                       cwd=work, env=java_env(), stdout=log, stderr=log, timeout=300)
    shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc_bulk", "cdc_oltp", "query_heads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the query_heads answers instead of checking them")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources here: run from the root of a checkout")

    t0 = time.time()
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(cp, work, f"-XX:SharedArchiveFile={os.path.join(BUILD, 'app.jsa')}") + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--answers", os.path.join(HERE, "answers_sf0.01.json")]
    if a.record:
        cmd.append("--record")
    err_path = os.path.join(work, "stderr.log")
    result = None
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=java_env(), stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        limit = RUN_LIMIT_S if time.time() - t0 < 60 else max(60, 890 - (time.time() - t0))
        try:
            out, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print(f"perfbench: run exceeded {limit:.0f} s", file=sys.stderr)
        finally:
            # the harness's child (the loopback primary) shares its group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for line in out.splitlines():
        if line.startswith("{"):
            try:
                result = json.loads(line)
                continue
            except ValueError:
                pass
        print(line)
    if a.trace and os.path.exists(os.path.join(work, "trace.jsonl")):
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    if proc.returncode != 0 or (result is None and not a.record):
        with open(err_path) as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited {proc.returncode} without a result", 1)
    shutil.rmtree(work, ignore_errors=True)
    if result is not None:
        print(json.dumps(result))


if __name__ == "__main__":
    main()
