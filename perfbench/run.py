#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline) and the shared search index; later
runs reuse both while the sources are unchanged. Everything is written
under perfbench/.work. The last line of stdout is the result JSON; the line
before it is a report with every named metric, its unit and sample count,
stamped with the host that produced it.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
JAR = os.path.join(BENCH, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
# Class-data archive of the JVM's loaded classes, dumped by the first JVM
# after a build and mapped by every later one: it takes seconds off each
# run's start-up.
CDS = os.path.join(WORK, "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# Bump when the prepared search cache changes (perfbench.Prepare, or the
# corpus size Inputs.SearchDocs).
CACHE_VERSION = "2"


def source_stamp(tops):
    """Hash of every file under `tops`."""
    h = hashlib.sha256()
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_child(cmd, timeout, cwd, env, stdout):
    """Runs a child in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"[perfbench] timed out after {timeout}s: {cmd[0]}")
    return p.returncode, out


def build(stamp, env):
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("compiling engine + benchmark (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        rc, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                           "package"], BUILD_TIMEOUT_S, BENCH, env, lf)
    if rc != 0:
        raise SystemExit(f"[perfbench] build failed (rc={rc}), see {WORK}/build.log")
    if os.path.exists(CDS):
        os.remove(CDS)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.0f}s")


def jvm(args, run_dir, env, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark_home = env.get("SPARK_HOME", "/opt/spark")
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    env = dict(env, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cds = f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS) else f"-XX:ArchiveClassesAtExit={CDS}"
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dderby.system.home=" + os.path.join(run_dir, "derby"),
            "-cp", f"{JAR}:{spark_home}/jars/*", "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=lf, start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"[perfbench] JVM timed out after {timeout}s")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if p.returncode != 0:
        raise SystemExit(f"[perfbench] JVM failed (rc={p.returncode}), see {run_dir}/jvm.log")
    return result


def host_stamp(seed, engine_stamp):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            commit = r.stdout.strip()
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "git_commit": commit, "engine_sources": engine_stamp, "seed": seed}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] no engine sources under src/main/scala/graft; "
                         "run from the root of a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"[perfbench] unknown workload {a.workload}")

    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    env.pop("GRAFT_PHASE_LOG", None)

    engine = [os.path.join(ROOT, "src", "main")]
    stamp = source_stamp(engine + [os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
                                   os.path.join(BENCH, "project", "build.properties")])
    # the cached index depends on the engine only, not on benchmark code
    engine_stamp = source_stamp(engine)
    cache = os.path.join(WORK, f"cache-{CACHE_VERSION}-{engine_stamp}")
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        build(stamp, env)
        if not os.path.exists(os.path.join(cache, "_DONE")):
            for d in os.listdir(WORK):
                if d.startswith("cache-"):
                    shutil.rmtree(os.path.join(WORK, d))
            log("building the shared search index")
            t0 = time.time()
            prep = os.path.join(WORK, "prepare")
            shutil.rmtree(prep, ignore_errors=True)
            os.makedirs(prep)
            jvm(["prepare", "--cache", cache], prep, env, BUILD_TIMEOUT_S)
            shutil.rmtree(prep, ignore_errors=True)
            log(f"search index built in {time.time() - t0:.0f}s")

        run_dir = os.path.join(WORK, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        res = jvm(["run", "--cache", cache, "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace), "--run-dir", run_dir],
                  run_dir, env, RUN_TIMEOUT_S)
        if res is None:
            raise SystemExit("[perfbench] the JVM printed no result")
        for name in ("spans.jsonl", "jvm.log"):
            if os.path.exists(os.path.join(run_dir, name)):
                shutil.copy(os.path.join(run_dir, name),
                            os.path.join(WORK, f"last-{a.workload}-{name}"))
        shutil.rmtree(run_dir, ignore_errors=True)

    got = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        raise SystemExit(f"[perfbench] workload {a.workload} did not report {missing}")
    report = {"workload": a.workload, "trace": a.trace, "host": host_stamp(a.seed, engine_stamp),
              "failures": res["failures"], "metrics": got}
    print("perfbench report " + json.dumps(report), flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }), flush=True)


if __name__ == "__main__":
    main()
