#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --record <out.json> [<graft.Verify output dir>]

Workloads: covid_etl, suite_materialize and, by hand only, suite_plan (see
perfbench/README.md).

The runner builds the engine and the harness from source (perfbench/build.py),
makes the workload's inputs from the seed, runs the measured JVM once, prints
every metric by name with its unit, and prints as its LAST stdout line one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run is traced and the
metrics are the per-layer ones. It exits 1 when a correctness check fails
(after printing the result) or the build fails, 2 on bad arguments, 3 when
the input generation or the measured JVM fails.

Everything it writes stays under the checkout: build output and suite data
in $CARGO_TARGET_DIR (default .bench_build), one directory per run below it
holding the run's logs, result.json and, when traced, spans.json.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

# nominal_pass_s: one timed pass of the workload on the reference box
# (4 cores); a run makes max(2, round(seconds / nominal_pass_s)) timed passes,
# so the number of op samples, and with it the tail's definition, is fixed
# for a given --seconds. suite_plan is kept for runs by hand: BENCHMARK.json
# leaves it out, because three workloads do not fit the run budget.
WORKLOADS = {
    "covid_etl": {"nominal_pass_s": 7.0, "days": 240, "check_days": 30},
    "suite_materialize": {"nominal_pass_s": 10.5},
    "suite_plan": {"nominal_pass_s": 5.0},
}

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
]

# the modules of the suite_materialize keys; result.json holds every module
MODULES = ["Windows", "Graph", "Relational", "Similarity"]

PER_LAYER = (
    [("session.build_s", "s"),
     ("etl.read_csv_s", "s"), ("etl.read_csv_jobs", "count"), ("etl.read_json_s", "s"),
     ("etl.transform_s", "s"), ("etl.load_covid_s", "s"), ("etl.load_municipios_s", "s"),
     ("etl.bytes_written", "bytes"), ("etl.files_written", "count"),
     ("etl.rows_loaded", "count"), ("etl.rows_dropped_null_key", "count"),
     ("ingest_rows_per_s", "1/s"), ("lake_bytes_per_input_byte", "ratio"),
     ("failed_frac", "ratio"),
     ("lake.query_s", "s"), ("lake.bytes_scanned", "bytes"), ("lake.files_scanned", "count"),
     ("ops.build_s", "s"), ("ops.build_jobs", "count"), ("ops.execute_s", "s"),
     ("ops.execute_jobs", "count")]
    + [(f"ops.{m}.wall_s", "s") for m in MODULES]
    + [("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
       ("catalyst.planning_s", "s"), ("catalyst.plans", "count"),
       ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
       ("sched.driver_gap_s", "s"), ("sched.task_wait_s", "s"), ("sched.core_util", "ratio"),
       ("sched.tasks_failed", "count"), ("sched.stages_retried", "count"),
       ("sched.log_errors", "count"),
       ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
       ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
       ("exec.spill_mem_bytes", "bytes"), ("exec.spill_disk_bytes", "bytes"),
       ("exec.input_bytes", "bytes"), ("exec.output_bytes", "bytes"),
       ("storage.cached_bytes_after_op", "bytes"), ("storage.rdds_cached_after_op", "count"),
       ("jvm.gc_s", "s"), ("traced.wall_s", "s")])

# The measured process: JDK 17 module opens Spark needs outside spark-submit
# (as in the repository's build.sbt), a fixed heap, quiet logging.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"
RUN_TIMEOUT_S = 170.0

EXPECTED_FINGERPRINTS = os.path.join(HERE, "expected", "suite_fingerprints.json")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classes, main, args, run_dir):
    cp = os.pathsep.join([classes] + build.spark_jars())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", *opens, "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, main] + [str(a) for a in args])


def run_java(classes, main, args, run_dir, log_name, deadline):
    """Runs one JVM in its own process group, killed at the deadline.
    Returns (exit code, peak resident set in MB)."""
    log = open(os.path.join(run_dir, log_name), "w")
    env = dict(os.environ, PERFBENCH_CORES=str(cores()))
    p = subprocess.Popen(java_cmd(classes, main, args, run_dir), cwd=run_dir, stdout=log,
                         stderr=subprocess.STDOUT, env=env, start_new_session=True)

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    timer = threading.Timer(max(1.0, deadline - time.monotonic()), kill)
    timer.start()
    # a runner stopped from outside takes the JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    status = None
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
        kill()  # nothing of the group may outlive the run
        if status is None:
            os.waitpid(p.pid, 0)
        log.close()
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage.ru_maxrss / 1024.0


def fail(msg, code=3):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tail_of(xs):
    """The highest order statistic with min(10, n // 3) values beyond it.
    Returns (value, percentile, n, beyond)."""
    xs = sorted(xs)
    n = len(xs)
    beyond = min(10, n // 3)
    i = n - 1 - beyond
    return xs[i], 100.0 * i / max(1, n - 1), n, beyond


def end_to_end(res, rss_mb):
    # An op's latency in a run is the median of its timed samples (one per
    # pass); the percentiles are taken over ops.
    samples = {}
    for o in res["ops"]:
        if o["latency"]:
            samples.setdefault(o["op"], []).append(o["wall_s"])
    lat = [statistics.median(v) for v in samples.values()]
    tail, pct, n, beyond = tail_of(lat)
    values = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(res["pass_walls"]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "peak_rss_mb": rss_mb,
    }
    note = f"op_tail_s is the p{pct:.0f} of n={n} ops ({beyond} beyond it)"
    return values, note


def per_layer(res, failed_frac):
    layers = dict(res["layers"])
    layers["failed_frac"] = failed_frac
    layers["traced.wall_s"] = statistics.median(res["pass_walls"])
    return layers


def selftest():
    classes = build.build()
    run_dir = os.path.join(bench_root(), "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    code, _ = run_java(classes, "perfbench.SelfTest", [run_dir], run_dir, "selftest.log",
                       time.monotonic() + 600)
    with open(os.path.join(run_dir, "selftest.log")) as f:
        for line in f:
            if line.startswith("selftest"):
                print(line.rstrip())
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    sys.exit(0 if code == 0 else 1)


def record(out, verify_out=None):
    """Fingerprints every suite key on the suite tables, or the results a
    graft.Verify run wrote for them, into `out`."""
    classes = build.build()
    data = os.path.join(bench_root(), "suite_data")
    run_dir = os.path.join(bench_root(), "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    deadline = time.monotonic() + 600
    args = ["record", data, os.path.abspath(out)]
    if verify_out:
        args.append(os.path.abspath(verify_out))
    suite_data(classes, run_dir)
    code, _ = run_java(classes, "perfbench.Tools", args, run_dir, "record.log", deadline)
    if code != 0:
        fail(f"record failed (see {run_dir}/record.log)")
    sys.exit(0)


def suite_data(classes, run_dir):
    """The suite tables, written once per version of their generator (the
    hash of its source) in a JVM of their own. Returns their directory."""
    data = os.path.join(bench_root(), "suite_data")
    with open(os.path.join(HERE, "src", "perfbench", "SuiteData.scala"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()
    stamp = os.path.join(data, "_version")
    if os.path.exists(stamp) and open(stamp).read() == version:
        return data
    shutil.rmtree(data, ignore_errors=True)
    code, _ = run_java(classes, "perfbench.Tools", ["gen-suite", data, version], run_dir,
                       "generate.log", time.monotonic() + 600)
    if code != 0:
        fail(f"suite data generation failed (see {run_dir}/generate.log)")
    return data


def bench_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def main():
    if sys.argv[1:] == ["--selftest"]:
        selftest()
    if sys.argv[1:2] == ["--record"] and len(sys.argv) in (3, 4):
        record(*sys.argv[2:])
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}", 2)
    start = time.monotonic()
    deadline = start + RUN_TIMEOUT_S
    w = WORKLOADS[a.workload]

    classes = build.build()
    deadline = max(deadline, time.monotonic() + RUN_TIMEOUT_S)  # a first build is not run time
    root = bench_root()
    run_dir = os.path.join(root, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    # Inputs: made from the seed, before and outside the measured process.
    args = ["--workload", a.workload, "--seed", a.seed, "--trace", a.trace,
            "--cores", cores(), "--run-dir", run_dir]
    if a.workload == "covid_etl":
        for name, days in (("input", w["days"]), ("check-input", w["check_days"])):
            inp = os.path.join(run_dir, name)
            code, _ = run_java(classes, "perfbench.CovidGen", [inp, a.seed, days], run_dir,
                               "generate.log", deadline)
            if code != 0:
                fail(f"input generation failed (see {run_dir}/generate.log)")
            args += [f"--{name}", inp]
    else:
        data = suite_data(classes, run_dir)
        args += ["--data", data, "--expected", EXPECTED_FINGERPRINTS]
    passes = max(2, round(a.seconds / w["nominal_pass_s"]))
    args += ["--passes", passes]

    code, rss_mb = run_java(classes, "perfbench.Main", args, run_dir, "run.log", deadline)
    for d in ("input", "check-input", "lake", "lake-check", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        fail(f"measured run failed with exit code {code} (see {run_dir}/run.log)")
    with open(result_file) as f:
        res = json.load(f)

    attempted = len(res["ops"])
    bad = [o for o in res["ops"] if not o["ok"]]
    bad_checks = [c for c in res.get("checks", []) if not c["ok"]]
    correct = not bad and not bad_checks and attempted > 0
    for o in bad[:10]:
        print(f"FAILED op {o['op']} (pass {o['pass']}): {o['error']}")
    for c in bad_checks[:10]:
        print(f"FAILED check {c['op']}: {c.get('error') or 'got %s want %s' % (c.get('got'), c.get('want'))}")

    if a.trace:
        values = per_layer(res, len(bad) / max(1, attempted))
        spec = PER_LAYER
        print(f"spans: {os.path.relpath(os.path.join(run_dir, 'spans.json'), ROOT)}")
    else:
        values, note = end_to_end(res, rss_mb)
        spec = END_TO_END
        print(note)
    metrics = {}
    for name, unit in spec:
        v = float(values.get(name, 0.0))
        metrics[name] = {"value": v, "unit": unit}
        print(f"{name} = {v:.6g} {unit}")
    print(f"workload {a.workload}, seed {a.seed}, {passes} timed passes, "
          f"{attempted} ops, {len(bad)} failed, {time.monotonic() - start:.1f} s in all")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(bad),
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
