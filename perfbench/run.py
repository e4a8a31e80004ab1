#!/usr/bin/env python3
"""Run one benchmark workload and print its figures as one JSON line.

    python3 perfbench/run.py --workload board --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source when they changed (sbt, in
perfbench/), then runs one JVM at local[4] with one client thread. With
--trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run. Everything the
run writes lives under .perfbench/ in the checkout: the temp root (removed at
exit), and per-run records with the host-noise readings, the JVM log and,
when traced, the spans.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("board", "load_churn", "history_reads")
DEADLINE_S = 170  # the whole run, build excluded, must end within 180 s
BUILD_TIMEOUT_S = 850
JAVA_MODULES = (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark found: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_stamp():
    """Hash of everything the build compiles, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(env, log):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    stamp = source_stamp()
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    with open(log, "ab") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"build failed (see {log})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def host_noise():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    # fields: user nice system idle iowait irq softirq steal ...
    ticks = [int(x) for x in cpu[1:]]
    return {"loadavg": load, "steal_ticks": ticks[7] if len(ticks) > 7 else 0,
            "total_ticks": sum(ticks), "time": time.time()}


def filesystem_of(path):
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, kind = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fs = mnt, kind
    return {"mount": best, "type": fs, "tmpfs": fs == "tmpfs"}


def finite(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-expected", action="store_true",
                    help="board: rewrite expected/board.tsv from this run instead of checking it")
    args = ap.parse_args()
    t_start = time.time()

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()

    work = os.path.join(ROOT, ".perfbench")
    records = os.path.join(work, "results")
    os.makedirs(records, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_start)}-{os.getpid()}"
    log = os.path.join(records, tag + ".log")
    build(env, log)
    t_run = time.time()

    tmp = os.path.join(work, "tmp", tag)
    os.makedirs(tmp)
    out = os.path.join(tmp, "result.json")
    spans = os.path.join(records, tag + ".spans.jsonl")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cmd = ["java"]
    for m in JAVA_MODULES:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    # C1 alone sizes the code cache as for a client VM (48 MB); a run's Spark
    # codegen fills that, and a full cache stops compiling or kills the run
    cmd += ["-Xms2g", "-Xmx2g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--tmp", tmp, "--out", out,
            "--spans", spans, "--data", os.path.join(HERE, "data", "sf0.001"),
            "--expected", os.path.join(HERE, "expected", "board.tsv"),
            "--record", "1" if args.record_expected else "0"]
    before = host_noise()
    try:
        with open(log, "ab") as jlog:
            budget = DEADLINE_S - (time.time() - t_run)
            code = run_group(cmd, budget, cwd=tmp, env=env, stdout=jlog, stderr=subprocess.STDOUT)
        after = host_noise()
        if code is None:
            fail(f"run exceeded {DEADLINE_S} s (see {log})", 4)
        if code != 0 or not os.path.exists(out):
            fail(f"run failed with code {code} (see {log})", 5)
        with open(out) as f:
            res = json.load(f)
        noise = {"before": before, "after": after,
                 "steal_share": (after["steal_ticks"] - before["steal_ticks"]) /
                 max(1, after["total_ticks"] - before["total_ticks"]),
                 "scratch_fs": filesystem_of(tmp)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(work, "tmp"))
        except OSError:
            pass

    key = "per_layer" if args.trace == "1" else "end_to_end"
    metrics = res[key]
    correct = res["failed"] == 0 and bool(metrics) and all(finite(m["value"]) for m in metrics.values())
    res["host"] = noise
    res["run_wall_s"] = time.time() - t_run
    with open(os.path.join(records, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
