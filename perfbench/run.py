#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <analytics|lifecycle>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the runner from source (perfbench/build.sh),
generates the input tables once (perfbench/gen_data.py), then runs one
workload in a fresh JVM and prints its result as the last stdout line:
{"correct", "attempted", "failed", "metrics"}. Everything it writes
goes under $CARGO_TARGET_DIR (default .bench_build): classes, data,
a per-workload working directory, logs, and a detailed result file per
run (host, set-up runs, every op, and in traced runs every span).

    python3 perfbench/run.py --workload <w> --record 1 [--seed <r>]

re-records the reference digests of a workload (two passes whose
results must agree) into perfbench/reference/<w>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"analytics": "sf0.01", "lifecycle": "sf0.01"}
HEAP = "4g"
RUN_LIMIT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def ensure_data(out, sf):
    """Generates the tables of one scale once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as f:
        stamp = hashlib.sha256(f.read() + sf.encode()).hexdigest()[:16]
    d = os.path.join(out, "data", sf)
    stamp_file = d + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return os.path.dirname(d)
    shutil.rmtree(d, ignore_errors=True)
    subprocess.run([sys.executable, gen, d, sf[2:]], check=True,
                   stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return os.path.dirname(d)


def git_commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(cmd, cwd, log_path, limit_s):
    """Runs the JVM in its own process group; kills the group on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {limit_s} s; log: {log_path}")
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return proc.returncode, out


def untraced_pass_s(results, workload):
    """Median pass wall of the untraced runs of a workload made so far
    in this checkout (0 when there are none): the traced run's base
    for trace.overhead_ratio."""
    vals = []
    for name in os.listdir(results):
        if name.startswith(workload + "-seed") and name.endswith("-trace0.json"):
            try:
                vals.append(float(json.load(open(os.path.join(results, name)))["pass_s"]))
            except (OSError, ValueError, KeyError, TypeError):
                pass
    return statistics.median(vals) if vals else 0


def merge_reference(path, new_path):
    merged = {"workload": None, "entries": {}}
    if os.path.exists(path):
        merged = json.load(open(path))
    new = json.load(open(new_path))
    merged["workload"] = new["workload"]
    merged["entries"].update(new["entries"])
    merged["entries"] = dict(sorted(merged["entries"].items()))
    with open(path, "w") as f:
        json.dump(merged, f, indent=1)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: no engine sources under src/main/scala")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    build = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out],
                           stdout=sys.stderr)
    if build.returncode != 0:
        fail("build failed")
    data = ensure_data(out, WORKLOADS[a.workload])
    spark_home = open(os.path.join(out, "spark_home")).read().strip()

    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for sub in ("results", "logs"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(out, "results", tag + ".json")
    ref = os.path.join(HERE, "reference", a.workload + ".json")
    if a.record:
        ref = os.path.join(work, "reference.json")
    source = git_commit(root) + "+" + open(os.path.join(out, "classes.stamp")).read().strip()
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dperfbench.source={source}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", os.path.join(out, "classes") + os.pathsep +
            os.path.join(spark_home, "jars", "*"),
            "perfbench.Runner", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--out", result, "--reference", ref,
            "--record", str(a.record),
            "--untraced-pass-s", str(untraced_pass_s(os.path.join(out, "results"), a.workload))])
    limit = 900 if a.record else RUN_LIMIT_S
    code, stdout = run_jvm(cmd, work, os.path.join(out, "logs", tag + ".log"), limit)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if code != 0 or not lines:
        fail(f"runner exited {code}; log: {os.path.join(out, 'logs', tag + '.log')}")
    line = json.loads(lines[-1])
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        fail("runner printed a malformed result line")
    if a.record:
        merge_reference(os.path.join(HERE, "reference", a.workload + ".json"), ref)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
