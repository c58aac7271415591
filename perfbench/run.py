#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result as one JSON line.

    python3 perfbench/run.py --workload <query_suite|event_stream|catalog_cycles>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the program
(`src/main/scala`) and the benchmark's JVM side (`perfbench/src`) with scalac
into `$CARGO_TARGET_DIR` (default `.bench_build`); later runs reuse the build
while the sources are unchanged. Each run writes its inputs, tables, logs,
checkpoints and Spark scratch into a fresh directory under `.bench_run/` and
removes it at the end.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("query_suite", "event_stream", "catalog_cycles")
CPUS = 4
HEAP = "2g"
RUN_LIMIT_S = 150
UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "cpu_ms_per_op": "ms", "heap_live_mb": "MB",
    "latency_p50_ms": "ms",
}
PER_LAYER_UNITS = {
    "queries.build_ms": "ms", "plans.plan_ms": "ms", "exec.jobs": "count",
    "exec.driver_only_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "log.append_ms": "ms", "log.segments": "count", "gen.lateness_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.planning_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.rows_per_batch": "count",
    "stream.state_rows": "count", "stream.state_mb": "MB",
    "sink.apply_ms": "ms", "sink.job_ms": "ms", "sink.metadata_ms": "ms",
    "event.latency_p90_ms": "ms",
    "etl.run_ms": "ms", "etl.diff_ms": "ms", "io.publish_ms": "ms", "io.decode_ms": "ms",
    "cycle.etl_ms": "ms", "cycle.dml_ms": "ms", "cycle.lookup_ms": "ms",
    "manifest.head_ms": "ms", "manifest.files": "count", "manifest.versions": "count",
    "manifest.body_kb": "KB", "scan.files_read": "count", "scan.files_total": "count",
    "maint.optimize_ms": "ms", "maint.vacuum_ms": "ms", "maint.files_removed": "count",
    "table.bytes_per_row": "B",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jars, Scala compiler included: `$SPARK_HOME/jars`, or else
    those of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"no Spark jars with a Scala compiler under {jars}: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit(f"no program sources at {main}: run from the root of a checkout")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Compiles the program and the benchmark's JVM side; returns the classpath."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        h.update(open(s, "rb").read())
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(root, target, "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    jars = spark_jars()
    resources = os.path.join(root, "src", "main", "resources")
    cp = os.pathsep.join([classes, resources, jars])
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


def java_cmd(cp, run_dir):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.sql.session.timeZone=UTC"] + opens + ["-cp", cp])


def launch(cp, run_dir, args, deadline):
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(java_cmd(cp, run_dir) + args, stdout=log, stderr=subprocess.STDOUT)
    try:
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("run exceeded its time limit")
    finally:
        log.close()
    if p.returncode != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"JVM exited with {p.returncode}")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def read_parquet_rows(path):
    return [{k: (None if _isnull(v) else v) for k, v in r.items()}
            for r in oracle.result_df(path).to_dict(orient="records")]


def _isnull(v):
    try:
        return v is None or v != v
    except Exception:
        return False


def verify(workload, model, run_dir, result):
    """Returns (correct, failed, messages)."""
    out = os.path.join(run_dir, "out")
    if workload == "query_suite":
        sql = json.load(open(os.path.join(out, "oracle_sql.json")))
        errors = json.load(open(os.path.join(out, "errors.json")))
        expected = oracle.expected(sql)
        actual = {n: check.digest(oracle.result_df(os.path.join(out, "results", n)))
                  for n in sql if n not in errors}
        wrong, msgs = check.check_queries(expected, actual, errors)
        msgs += [f"query {n} failed: {e}" for n, e in errors.items()]
        return not wrong, result["failed"], msgs
    if workload == "event_stream":
        n = int(open(os.path.join(out, "sent.txt")).read())
        sink = read_parquet_rows(os.path.join(out, "sink"))
        funnel = []
        for f in glob.glob(os.path.join(out, "funnel", "*.json")):
            funnel += [json.loads(ln) for ln in open(f) if ln.strip()]
        failed, msgs, good = check.check_events(model["sent_lines"][:n], sink, funnel,
                                                model["catalog"])
        return good and failed == 0, failed, msgs
    dumps = [json.loads(ln) for ln in open(os.path.join(out, "cycles.jsonl")) if ln.strip()]
    topic = json.load(open(os.path.join(out, "topic.json")))
    failed, msgs, good = check.check_catalog(model, gen.table_rows, dumps, topic,
                                             gen.CATALOG["range_len"])
    return good, max(failed, result["failed"]), msgs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    root = os.getcwd()
    cp = build(root)
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "in")
    os.makedirs(in_dir)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        if a.workload == "query_suite":
            model = gen.query_suite(a.seed, in_dir, oracle.DATA)
        elif a.workload == "event_stream":
            model = gen.event_stream(a.seed, in_dir, a.seconds)
        else:
            model = gen.catalog_cycles(a.seed, in_dir)
        ticks0 = cpu_ticks()
        launch(cp, run_dir, ["perfbench.Main", a.workload, run_dir, str(a.seconds),
                             str(a.trace), str(int(time.time() * 1000)), str(CPUS)], deadline)
        ticks1 = cpu_ticks()
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            # time the hypervisor ran something else on this VM's CPUs: it
            # slows every time figure of the run, and no change to the program
            # moves it
            steal = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
            print(f"[perfbench] host steal during the run: {100 * steal:.1f}% of CPU time")
        result = json.load(open(os.path.join(run_dir, "result.json")))
        correct, failed, msgs = verify(a.workload, model, run_dir, result)
        for m in msgs[:20]:
            print(f"[perfbench] {m}")
        if a.trace:
            # the traced run's end-to-end figures, for the tracing overhead
            print("[perfbench] end-to-end under tracing: " + json.dumps(result["metrics"]))
            # a layer the workload does not exercise has no samples and reads 0
            metrics = {k: {"value": float(result["trace"].get(k) or 0.0), "unit": u}
                       for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": result["metrics"].get(k), "unit": u}
                       for k, u in UNITS.items()}
            lost = [k for k, m in metrics.items()
                    if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])
                    or m["value"] <= 0]
            if lost:
                # a metric the run could not measure is a fault, not a good figure
                raise SystemExit(f"no valid measurement of {', '.join(lost)}")
        print(json.dumps({"correct": bool(correct), "attempted": int(result["attempted"]),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
