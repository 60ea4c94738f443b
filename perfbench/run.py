#!/usr/bin/env python3
"""Build the mirror benchmark from source and run one workload.

    python3 perfbench/run.py --workload mirror_bulk --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds the program together
with the harness (sbt, offline) and caches the classpath under
perfbench/.build, keyed by a hash of every source and build file; later
runs start the JVM directly. Each run writes its full result (metrics,
details, environment and provenance) to its own new file under
perfbench/results/ and prints the summary as the last line of stdout:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Exit status is non-zero, with no result
line, when the program cannot be built or run.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")
# A run must end within 180 s; the JVM gets what is left after the build.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    if not env.get("SPARK_HOME"):
        # the build takes Spark's jars from SPARK_HOME/jars: use the first
        # spark-submit on PATH that sits in such an installation
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.realpath(d))
            if os.path.isfile(os.path.join(d, "spark-submit")) and \
                    os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    return env


def build(stamp):
    """Compile program + harness unless the cached build matches `stamp`;
    returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, work, budget_s):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args + ["--work", work]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, log_path, "timed out"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    found = [l[len("PERFBENCH_RESULT "):] for l in out.splitlines()
             if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not found:
        return None, log_path, f"exit {proc.returncode}"
    return json.loads(found[-1]), log_path, None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    stamp = source_hash()
    t_build = time.monotonic()
    classpath = build(stamp)
    build_s = time.monotonic() - t_build

    run_id = "{}-{}-s{}-t{}-{}".format(
        datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ"),
        a.workload, a.seed, a.trace, uuid.uuid4().hex[:8])
    work = os.path.join(HERE, "work", run_id)
    os.makedirs(work)
    budget = RUN_LIMIT_S - (time.monotonic() - t_start - build_s)
    try:
        res, log_path, err = run_jvm(
            classpath, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace)],
            work, budget)
        if err:
            os.makedirs(RESULTS, exist_ok=True)
            kept = os.path.join(RESULTS, run_id + ".log")
            shutil.copyfile(log_path, kept)
            fail(f"run failed ({err}); JVM log kept at {kept}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"result lacks metrics {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    summary = {"correct": bool(res["correct"]), "attempted": res["attempted"],
               "failed": res["failed"], "metrics": metrics}

    os.makedirs(RESULTS, exist_ok=True)
    record = dict(summary, workload=a.workload, seed=a.seed,
                  seconds=a.seconds, trace=a.trace,
                  end_to_end=res["end_to_end"], per_layer=res["per_layer"],
                  details=res["details"],
                  env=dict(res["env"], git_commit=git_commit(),
                           source_sha256=stamp, build_s=build_s))
    with open(os.path.join(RESULTS, run_id + ".json"), "x") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
