#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload audience --seed 1 --seconds 5 --trace 0

Run from the root of the repository. The first run builds the library and
the harness with sbt (into target/ directories and .bench_build/); later
runs reuse the build while the sources are unchanged. The harness starts
one local[nproc] SparkSession, runs two untimed passes over the workload's
queries, then timed passes for --seconds, one query at a time.
This script checks the warm-up results, prints every metric by name and
unit, and prints one JSON object as the last line. perfbench/README.md
defines the workloads and metrics.

Environment: PERFBENCH_DATA overrides the table directory (default
~/testdata/sf0.1).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("audience", "curation")
MODULES = ("sql", "feature", "evaluation", "classification", "dedup", "similarity",
           "graph", "text", "temporal", "streaming")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150  # with the check, a run ends within 3 minutes after its build
HEAP = "4g"

# per-layer metric -> unit (perfbench/README.md gives each one's layer)
PER_LAYER_UNITS = {
    "Tables.load_ms": "ms", "Tables.load_jobs": "count",
    "queries.build_ms": "ms", "queries.build_jobs": "count", "queries.jobs_per_query": "count",
    "spark.plan_ms": "ms", "spark.codegen_ms": "ms", "spark.codegen_compiles": "count",
    "warmup.codegen_ms": "ms", "warmup.codegen_compiles": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_only_ms": "ms", "spark.core_busy_frac": "ratio",
    "spark.task_cpu_s": "core-s", "spark.gc_ms": "ms", "spark.task_skew": "ratio",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_disk_mb": "MB",
    "traced.pass_s": "s",
    "self.pass_s": "s", "self.query_s": "s", "self.build_s": "s", "self.action_s": "s",
    "self.job_s": "s", "self.tables_s": "s", "self.stage_s": "s",
}
for _m in MODULES:
    PER_LAYER_UNITS["%s.wall_s" % _m] = "s"
    PER_LAYER_UNITS["%s.task_s" % _m] = "core-s"

# the JVM flags Spark's launcher adds on JDK 17 (see the root build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build; a changed source means a rebuild."""
    h = hashlib.sha256()
    files = []
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        project = os.path.join(base, "project")
        if os.path.isdir(project):
            files += [os.path.join(project, n) for n in os.listdir(project)]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the harness's classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log_path) as log:
        lines = [l.strip() for l in log if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or cp.startswith("["):
        fail("build failed, see %s" % log_path)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, cores, data_dir, run_dir, budget_s):
    """Runs the harness; returns its raw measurements."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "raw.json")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
              "--data", data_dir, "--results", os.path.join(run_dir, "results"), "--out", out])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness exceeded %.0f s, see %s" % (budget_s, log_path))
    if rc != 0 or not os.path.exists(out):
        fail("harness exited with %d, see %s" % (rc, log_path))
    with open(out) as f:
        return json.load(f)


def report(raw, failures, trace, ctx):
    """The printed report and the result object for one run. `failures`
    maps each query whose warm-up result failed its check to the reason."""
    # every execution of a query whose checked result is wrong counts as failed
    execs = raw["executions"]
    attempted = len(raw["warmup"]) + len(execs)
    failed = len(failures) + sum(1 for e in execs if e["error"] or e["query"] in failures)
    e2e, latency, notes = metrics.end_to_end(raw, set(failures))
    if trace:
        layer = metrics.per_layer(raw, MODULES)
        shown = {k: (layer.get(k, 0.0), u) for k, u in PER_LAYER_UNITS.items()}
    else:
        shown = e2e
    lines = ["perfbench %s seed=%d trace=%d" % (ctx["workload"], ctx["seed"], trace),
             "context " + json.dumps(ctx, sort_keys=True)]
    lines += ["error   pass %d %s: %s" % (e["pass"], e["query"], e["error"]) for e in execs if e["error"]]
    lines += ["wrong   %s: %s" % kv for kv in sorted(failures.items())]
    lines.append("correct %s (%d of %d query executions failed, failed_frac %.4f)"
                 % (not failed, failed, attempted, failed / attempted))
    lines += ["latency %-28s %14.4f %s" % (k, v, u) for k, (v, u) in sorted(latency.items())]
    lines.append("tail    query_tail_ms is p%g of %d samples; %d timed passes"
                 % (notes["tail_percentile"], notes["tail_samples"], notes["passes"]))
    lines += ["metric  %-28s %14.4f %s" % (k, v, u) for k, (v, u) in sorted(shown.items())]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    return lines, result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    load_start = os.getloadavg()[0]

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources at %s; run from a full checkout" % ROOT)
    import checks  # uses the repo's scripts/check.py
    data_dir = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isfile(os.path.join(data_dir, "lineitem.parquet")):
        fail("no tables at %s (set PERFBENCH_DATA)" % data_dir)
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp = build()

    cores = nproc()
    run_dir = os.path.join(BUILD_DIR, "runs", "%s-trace%d" % (args.workload, args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_jvm = time.time()
    raw = run_jvm(cp, args, cores, data_dir, run_dir, JVM_TIMEOUT_S)

    queries = sorted(raw["modules"])
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        fingerprints = json.load(f)
    results = os.path.join(run_dir, "results")
    t_check = time.time()
    failures = checks.check_all(data_dir, results, queries, raw["oracles"], fingerprints,
                                os.path.join(BUILD_DIR, "oracle"))
    for w in raw["warmup"]:
        if w["error"]:
            failures[w["query"]] = "warm-up error: " + w["error"]
    shutil.rmtree(results, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    ctx = dict(raw["context"], load_1min_start=load_start, load_1min_end=os.getloadavg()[0],
               build_s=t_jvm - t_start, jvm_s=t_check - t_jvm, check_s=time.time() - t_check)
    lines, result = report(raw, failures, args.trace, ctx)
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
