#!/usr/bin/env python3
"""Benchmark of the graft engine's Kafka-log paths, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload log_scan --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the engine together with the benchmark
code (sbt, offline) under perfbench/target; later runs reuse the build as
long as no source changed. Each run starts one JVM on local[<cores>] that
sets the workload up several times, measures it, checks every answer and
writes raw samples; this script turns them into metrics and prints one JSON
line as the last line of stdout. With --trace 1 the metrics are the
per-layer ones, including the tracing overhead. See NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
JVM_OPTS = os.path.join(TARGET, "jvmopts.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("log_scan", "stream_ingest")
# what an operation is in each workload, for the human-readable report line
OP_NAMES = {"log_scan": "query", "stream_ingest": "trigger"}
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    stamp = source_stamp()
    if all(os.path.exists(f) for f in (STAMP, CLASSPATH, JVM_OPTS)):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    log("building engine + benchmark (sbt compile)")
    t0 = time.time()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "writeClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not all(os.path.exists(f) for f in (CLASSPATH, JVM_OPTS)):
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("SPARK_HOME is not set and spark-submit is not on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def run_jvm(args, run_dir):
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    with open(JVM_OPTS) as fh:
        jvm_opts = [line for line in fh.read().splitlines() if line]
    out = os.path.join(run_dir, "result.json")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local)
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={local}", f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", run_dir, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark JVM timed out")
    if code != 0:
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(out) as fh:
        return json.load(fh)


def end_to_end(setups, ops):
    op_s = ops["op_s"]
    return {
        "setup_s": stats.median(setups),
        "op_p50_s": stats.percentile(op_s, 0.5),
        "op_p90_s": stats.percentile(op_s, 0.9),
        "msgs_per_s": ops["msgs"] / sum(op_s),
    }


def report(raw):
    """Final metrics and the (attempted, failed) counts of a run."""
    untraced = raw["untraced"]
    e2e = end_to_end(raw["setup_s"], untraced)
    attempted, failed = len(untraced["op_s"]), untraced["failed"]
    if "traced" not in raw:
        return {k: (v, stats.END_TO_END[k][0]) for k, v in e2e.items()}, attempted, failed
    traced = raw["traced"]
    attempted += len(traced["op_s"])
    failed += traced["failed"]
    # the listener is attached to the running session, so tracing adds
    # only the attach call to a set-up
    with_trace = end_to_end([s + traced["attach_s"] for s in raw["setup_s"]], traced)
    layers = {}
    for name, (unit, _) in stats.PER_LAYER.items():
        if name.startswith("tracing."):
            base = name[len("tracing."):-len("_delta")]
            layers[name] = (with_trace[base] - e2e[base], unit)
        else:
            layers[name] = (stats.median(raw["layers"][name]), unit)
    return layers, attempted, failed


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    build()
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        raw = run_jvm(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics, attempted, failed = report(raw)
    op = OP_NAMES[args.workload]
    named = {k.replace("op_", f"{op}_"): {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    named["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    print(json.dumps({"workload": args.workload, "cores": raw["cores"], "seed": args.seed,
                      "trace": args.trace, "ops": attempted, "cold_setup_s": raw["cold_setup_s"],
                      "setup_samples_s": raw["setup_s"], "metrics": named}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
