#!/usr/bin/env python3
"""Gateway benchmark: one workload per invocation, run from the checkout root.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the engine together with the benchmark's own sources
(perfbench/build.sbt) on first use, runs the workload in one JVM against a
store generated from the seed, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. The line before it carries the run's stamp (seed, nproc,
load average, master, heap, source identity) and notes. Exit code: 0 when
every answer checked out, 1 on a wrong answer, 2 on a harness or build
error (then no result line is printed).
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HEAP = "-Xmx3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group and
    wait for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def content_stamp():
    """Hash of everything the build reads (engine sources, benchmark
    sources, benchmark build files): the rebuild key, and the identity of
    the code measured when the checkout carries no git metadata."""
    h = hashlib.sha1()
    for base in (ENGINE_SRC, HERE):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    with open(p, "rb") as fh:
                        h.update(os.path.relpath(p, ROOT).encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one the engine's
    own build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def build():
    """Compile engine + benchmark with sbt (offline) unless the classpath
    for the current sources is already there. Serialised by a file lock, so
    concurrent runs in one checkout build once."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked()


def build_locked():
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = content_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         700, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "sbt-target" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # a TERM becomes SystemExit, so run_group kills and reaps the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classpath = build()
    t_start = time.time()
    load_start = os.getloadavg()[0]
    cores = nproc()
    master = f"local[{cores}]"
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(results, f"{tag}.jvm.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = ["java", HEAP, "-XX:+UseG1GC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-cp", classpath, "graft.perfbench.GatewayBench",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), master, work, result_file]
    log = os.path.join(results, f"{tag}.log")
    try:
        with open(log, "w") as out:
            code = run_group(cmd, RUN_LIMIT_S - (time.time() - t_start), cwd=work,
                             stdout=out, stderr=subprocess.STDOUT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s; see {log}")
    if code not in (0, 1) or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write("".join(l for l in f if "perfbench" in l or "Exception" in l)[-4000:])
        fail(f"run failed (exit {code}); see {log}")
    with open(result_file) as f:
        res = json.load(f)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} missing or not a number: {got}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cores, "load_avg_1m_start": load_start, "load_avg_1m_end": os.getloadavg()[0],
        "master": master, "heap": HEAP, "git_commit": git_commit(),
        "source_sha1": content_stamp(), "wall_s": round(time.time() - t_start, 3),
    }
    full = {"stamp": stamp, "notes": res.get("notes", {}), "metrics_all": res["metrics"]}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps({"stamp": stamp, "notes": res.get("notes", {})}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
