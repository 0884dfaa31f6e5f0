#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (offline), into the checkout; later runs
reuse the build while the sources are unchanged. Each run launches one JVM
over a local[4] session, measures for S seconds in a closed loop with one
client, checks every op's output, and prints:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. `--record DIR` also keeps the run's result and spans there.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("waqi_etl", "iterative_build", "index_lifecycle", "tpch_scan")
REGISTRY_WORKLOADS = ("tpch_scan", "iterative_build")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "registry.tsv")
CORES = 4
# every run must end within 180 s; a run that would not is killed
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 800

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_s_p50": "s",
    "peak_rss_mb": "MB",
}
# the per-layer metrics every workload reports; the full per-layer set of a
# run (sources, sinks, artifacts, self time per layer) is in its --record
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "exec.trivial_job_s": "s",
    "exec.exec_s": "s/op",
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.cpu_s": "s/op",
    "exec.task_run_s": "s/op",
    "exec.sched_wait_s": "s/task",
    "exec.slot_util": "ratio",
    "operators.build_s": "s/call",
}

JDK17_OPENS = [
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


def source_stamp():
    """Hash of every input the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile library + benchmark; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building library and benchmark with sbt",
          file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_DEADLINE_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def java(classpath, run_dir, main_args):
    """The JVM command line: the flags Spark needs on JDK 17, with every
    scratch path inside the run's directory."""
    return ["java"] + [a for p in JDK17_OPENS
                       for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.stream.error.file={run_dir}/derby.log",
        "-cp", classpath, "graft.perfbench.Main"] + main_args


def run_jvm(cmd, run_dir, log):
    """Run the JVM in its own process group; kill the group on timeout or
    when this script is stopped. Returns the exit code or None."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               GRAFT_ARTIFACTS_DIR=os.path.join(run_dir, "artifacts"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_DEADLINE_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def make_run_dir(name):
    run_dir = os.path.join(BUILD, f"run-{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "work", "artifacts"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir


def launch(classpath, run_dir, workload, seed, seconds, trace):
    """One JVM, one run; returns the result and spans it wrote."""
    result = os.path.join(run_dir, "result.json")
    spans = os.path.join(run_dir, "spans.json")
    cmd = java(classpath, run_dir, [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--data", DATA, "--work", os.path.join(run_dir, "work"),
        "--expected", EXPECTED, "--result", result, "--spans", spans,
        "--launched-ms", str(int(time.time() * 1000))])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        code = run_jvm(cmd, run_dir, log)
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        return None, None
    with open(result) as f:
        res = json.load(f)
    span_data = None
    if os.path.exists(spans):
        with open(spans) as f:
            span_data = json.load(f)
    return res, span_data


def write_expected(classpath):
    """Regenerate expected/registry.tsv from the current program."""
    lines = ["# name\trows\tsha256 ('-' = checked by row count only); "
             "data/sf0.01"]
    for w in REGISTRY_WORKLOADS:
        run_dir = make_run_dir(f"digest-{w}")
        try:
            out = os.path.join(run_dir, "digest.tsv")
            with open(out, "w") as log:
                code = run_jvm(java(classpath, run_dir,
                                    ["--digest", w, "--data", DATA]),
                               run_dir, log)
            with open(out) as f:
                rows = [l for l in f.read().splitlines()
                        if l.startswith("q") and l.count("\t") == 2]
            if code != 0:
                fail(f"digest run for {w} failed")
            lines += rows
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    with open(EXPECTED, "w") as f:
        f.write("\n".join(lines) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="directory to keep result and spans in")
    ap.add_argument("--write-expected", action="store_true",
                    help="regenerate expected/registry.tsv and exit")
    a = ap.parse_args()
    # a stopped benchmark still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    if a.write_expected:
        write_expected(classpath)
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    run_dir = make_run_dir(f"{a.workload}-{a.seed}-{a.trace}")
    try:
        res, spans = launch(classpath, run_dir, a.workload, a.seed,
                            a.seconds, a.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        fail("the benchmark JVM failed; its log tail is above")

    e2e = res["end_to_end"]
    for err in res["errors"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    correct = res["failed"] == 0 and res["warmup_failed"] == 0
    if a.record:
        os.makedirs(a.record, exist_ok=True)
        name = f"{a.workload}.{'traced' if a.trace else 'untraced'}"
        with open(os.path.join(a.record, name + ".json"), "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        if spans is not None:
            with open(os.path.join(a.record, name + ".spans.json"), "w") as f:
                json.dump(spans, f)

    units = PER_LAYER if a.trace else END_TO_END
    source = res["per_layer"] if a.trace else e2e
    metrics = {k: {"value": source[k], "unit": u} for k, u in units.items()}
    if any(m["value"] is None for m in metrics.values()):
        fail(f"a metric is missing: {metrics}")
    stored = e2e.get("stored_bytes_per_row")
    print(f"{a.workload} seed={a.seed}: attempted={res['attempted']} "
          f"failed={res['failed']} failed_ratio={e2e['failed_ratio']:.4f}"
          + (f" stored_bytes_per_row={stored:.2f} B" if stored else ""))
    for k, m in metrics.items():
        print(f"  {k:<26} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
