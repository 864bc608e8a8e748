#!/usr/bin/env python3
"""Benchmark launcher: builds the harness (once per source state), runs one
workload in a fresh JVM inside an isolated run directory, checks the run's
correctness verdict and prints the metrics.

    python3 perfbench/run.py --workload requests_cold --seed 7 --seconds 12 --trace 0

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`); the line before it is a report with
every metric under the names the README uses. The exit code is 0 only when
the run was correct. See perfbench/README.md.
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

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("requests_cold", "register")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine sources and harness."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.sep + "target" in d:
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile with sbt when the sources changed; returns the java arg file
    holding the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    args_file = os.path.join(BUILD, "java.args")
    stamp = source_stamp()
    if os.path.exists(args_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return args_file
    os.makedirs(BUILD, exist_ok=True)
    log("building the harness with sbt (first run in this checkout)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed (see .bench_build/build.log)")
    with open(args_file, "w") as f:
        f.write("-cp " + lines[-1].strip() + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return args_file


def run_jvm(args_file, opts, run_dir, out_file):
    """Runs the benchmark program; returns the launch time in epoch µs."""
    for sub in ("tmp", "warehouse", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dderby.system.home={run_dir}/tmp", "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"@{args_file}", "perfbench.Main",
            "--workload", opts.workload, "--seed", str(opts.seed),
            "--seconds", str(opts.seconds), "--trace", str(opts.trace),
            "--run-dir", run_dir, "--out", out_file,
            "--golden", os.path.join(HERE, "golden", "register.json")]
    if opts.record_golden:
        cmd += ["--record-golden", os.path.abspath(opts.record_golden)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    launch_us = time.time_ns() // 1000
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=err, env=env,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"benchmark program exceeded {RUN_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(out_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark program exited with {p.returncode}")
    return launch_us


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the raw run record (samples, spans, jobs) here")
    ap.add_argument("--record-golden", metavar="FILE",
                    help="register: write the sample's digests to FILE instead of checking them")
    opts = ap.parse_args()

    engine_src = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not os.path.exists(engine_src):
        raise SystemExit("engine sources not found next to perfbench/ "
                         "(run from a full checkout of the repository)")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("SPARK_HOME must name a Spark 4 install")
    args_file = ensure_build()

    run_dir = os.path.join(BUILD, "runs", f"{opts.workload}-{opts.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_file = os.path.join(run_dir, "result.json")
    try:
        launch_us = run_jvm(args_file, opts, run_dir, out_file)
        with open(out_file) as f:
            raw = json.load(f)
        if opts.keep:
            with open(opts.keep, "w") as f:
                json.dump(dict(raw, launch_us=launch_us), f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report = metrics.report(raw, launch_us)
    chosen = metrics.layer_metrics(raw) if opts.trace else metrics.end_to_end(report)
    correct = raw["failed"] == 0 and raw["attempted"] > 0
    print(json.dumps({"workload": opts.workload, "seed": opts.seed,
                      "traced": bool(opts.trace), "report": report,
                      "failures": raw["failures"]}))
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": chosen}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
