#!/usr/bin/env python3
"""Layered benchmark of the medallion pipeline and the batch query catalog.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

The first run builds the engine and the harness from source into
$CARGO_TARGET_DIR (default .bench_build). One JVM then runs one workload
for about S seconds of operations, one client in a closed loop, on
local[nproc] with SPARK_GRAFT_CPUS = nproc. The outputs are checked
(the engine's graft.Verify plus scripts/check.py against the DuckDB
oracle for queries; row-count, gold-sum and gate checks for the
pipeline). A readable report goes to stdout, and the last stdout line is
one JSON object: with --trace 0 the end-to-end metrics, with --trace 1
the per-layer metrics, which come from Spark's listener bus scoped to the
harness's spans. Run artifacts (the report, spans, logs) are kept under
.bench_out/; the lake and temp dirs a run creates are removed.

Workloads, metrics and their meaning: see perfbench/METRICS.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import stats  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
CHECK_PY = os.path.join(ROOT, "scripts", "check.py")
FIXTURE = os.path.join(HERE, "fixture")

# catalog_batch measures a panel of PER_FAMILY batch queries from every
# query family, drawn once with PANEL_SEED; --seed sets the order they run
# in. A fixed panel keeps runs with different seeds measuring the same work.
# STREAMS are the streaming queries it runs once, after the cold pass: a
# watermarked windowed aggregation, which provisions a state store.
PER_FAMILY = 1
PANEL_SEED = 0
STREAMS = ("q64_stream_hourly",)
ROWS_PER_DAY = 5000
HEAP = "3g"
# Wall-clock limits for one run, build excluded: the JVM, then the JVM and
# the output check together.
RUN_LIMIT_S = 160
CHECK_LIMIT_S = 175

# Spark 4 on JDK 17 outside spark-submit (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# -XX:-UsePerfData: no hsperfdata file outside the checkout.
JVM_OPTS = ["-XX:-UsePerfData"] + \
    [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]

WORKLOADS = ("medallion_daily", "catalog_batch")


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        jars = os.path.join(list(spec.submodule_search_locations)[0], "jars")
        if os.path.isdir(jars):
            return jars
    fail("no Spark jars: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return engine, harness


def build(build_dir, jars):
    """Compiles the engine, then the harness against it; skipped when no
    source changed since the last build in this directory."""
    engine, harness = sources()
    h = hashlib.sha256()
    for p in engine + harness + sorted(glob.glob(
            os.path.join(ENGINE_RES, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    catalog = os.path.join(build_dir, "catalog.json")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(catalog):
        return catalog
    for d in ("engine", "harness", "tmp"):
        shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
        os.makedirs(os.path.join(build_dir, d))
    tmp = "-Djava.io.tmpdir=" + os.path.join(build_dir, "tmp")
    scalac = ["java", "-XX:-UsePerfData", tmp, "-Xss8m", "-Xmx2g",
              "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
    for out, cp, srcs in (("engine", None, engine),
                          ("harness", os.path.join(build_dir, "engine"), harness)):
        cmd = scalac + (["-cp", cp] if cp else []) + \
            ["-d", os.path.join(build_dir, out)] + srcs
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail("build of %s failed:\n%s" % (out, r.stdout[-4000:]), 1)
    r = subprocess.run(java_cmd(build_dir, jars, [tmp]) + ["list", catalog],
                       cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("catalog listing failed:\n" + r.stdout[-4000:], 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return catalog


def java_cmd(build_dir, jars, props):
    cp = os.pathsep.join([os.path.join(build_dir, "harness"),
                          os.path.join(build_dir, "engine"), ENGINE_RES,
                          os.path.join(jars, "*")])
    return ["java"] + JVM_OPTS + ["-Xmx" + HEAP] + props + \
        ["-cp", cp, "perfbench.Harness"]


def nproc():
    return len(os.sched_getaffinity(0))


def host_snapshot():
    """Host facts recorded with every capture (recorded only)."""
    steal = None
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        steal = int(cpu[8]) if len(cpu) > 8 else None
    except OSError:
        pass
    return {"loadavg": list(os.getloadavg()), "steal_ticks": steal,
            "time": time.time()}


def run_jvm(cmd, env, log_path, limit_s):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def check_outputs(verify_dir, names, limit_s):
    """scripts/check.py against the DuckDB oracle; returns the names that
    did not pass and the checker's output."""
    r = subprocess.run([sys.executable, CHECK_PY, FIXTURE, verify_dir] + names,
                       cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=limit_s,
                       env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    passed = set()
    for line in r.stdout.splitlines():
        parts = line.strip().split()
        if len(parts) >= 2 and parts[0] in ("✓", "~"):
            passed.add(parts[1].rstrip(":"))
    return sorted(set(names) - passed), r.stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(CHECK_PY):
        fail("engine sources or scripts/check.py not found under " + ROOT)
    if not os.path.isdir(FIXTURE):
        fail("fixture not found: " + FIXTURE)
    jars = spark_jars()
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    catalog = json.load(open(build(build_dir, jars)))
    t_built = time.time()

    if a.workload == "catalog_batch":
        names = stats.seeded_order(stats.sample_queries(
            [q for q in catalog if not q["streaming"]], PANEL_SEED,
            PER_FAMILY), a.seed)
        streams = list(STREAMS)
    else:
        names, streams = [], []

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(ROOT, ".bench_work", "%s-%d" % (tag, os.getpid()))
    out_dir = os.path.join(ROOT, ".bench_out", tag)
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir)
    settings = os.path.join(work, "settings.properties")
    result = os.path.join(work, "result.json")
    with open(settings, "w") as f:
        for k, v in (("workload", a.workload), ("seed", a.seed),
                     ("seconds", a.seconds), ("trace", a.trace),
                     ("fixture", FIXTURE), ("work", work), ("out", result),
                     ("queries", ",".join(names)),
                     ("streams", ",".join(streams)),
                     ("rows_per_day", ROWS_PER_DAY)):
            f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))

    cpus = nproc()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    host_before = host_snapshot()
    rc = run_jvm(java_cmd(build_dir, jars, [
        "-Djava.io.tmpdir=" + tmp, "-Dspark.hadoop.hadoop.tmp.dir=" + tmp])
                 + ["run", settings], env,
                 os.path.join(out_dir, "jvm.log"),
                 RUN_LIMIT_S - (time.time() - t_built))
    host_after = host_snapshot()
    try:
        if rc is None:
            fail("run exceeded %d s (log: %s)" % (RUN_LIMIT_S, out_dir), 1)
        if not os.path.exists(result):
            fail("harness exited %s without a result (log: %s/jvm.log)"
                 % (rc, out_dir), 1)
        rec = json.load(open(result))
        # exit 1 after the record means graft.Verify saw a query throw;
        # check.py then reports that query as missing
        if rc not in (0, 1) or (rc == 1 and rec["verify"] is not True):
            fail("harness exited %s (log: %s/jvm.log)" % (rc, out_dir), 1)
        failed_checks, check_log = [], ""
        if rec["verify"]:
            failed_checks, check_log = check_outputs(
                os.path.join(work, "verify"), names + streams,
                max(1.0, CHECK_LIMIT_S - (time.time() - t_built)))
            with open(os.path.join(out_dir, "check.log"), "w") as f:
                f.write(check_log)
        leaked = sorted(n for n in os.listdir(tmp) if n.startswith("graft"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    host = {"nproc": cpus, "spark_graft_cpus": cpus, "heap_limit": HEAP,
            "heap_limit_mb": rec["heap_limit_mb"],
            "before": host_before, "after": host_after}
    report = metrics.compute(rec, failed_checks, leaked, host)
    report["build_s"] = round(t_built - t_start, 3)
    report["wall_s"] = round(time.time() - t_start, 3)
    report["queries"] = names + streams
    untraced_path = os.path.join(ROOT, ".bench_out",
                                 "%s-seed%d-trace0" % (a.workload, a.seed),
                                 "report.json")
    if a.trace and os.path.exists(untraced_path):
        report["tracing_overhead"] = metrics.overhead(
            report, json.load(open(untraced_path)))
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if a.trace:
        with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
            for s in rec["spans"]:
                f.write(json.dumps(s) + "\n")
    print(metrics.render(report))
    print("artifacts: " + os.path.relpath(out_dir, ROOT))
    contract = report["per_layer"] if a.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"], "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in contract.items()}}))


if __name__ == "__main__":
    main()
