#!/usr/bin/env python3
"""End-to-end benchmark of the four paths users run.

    python3 e2ebench/run.py --workload nightly_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The first run compiles the library
(``src/main/scala``) and the harness (``e2ebench/scala``) with the Scala
compiler shipped in Spark's jars; later runs reuse the classes while the
sources are unchanged.  Each run then generates its inputs from ``--seed``
(``gen.py``), drives one workload in a fresh JVM at ``local[<cores>]``,
checks every output, prints each end-to-end metric with its unit and
better direction, and ends with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (listeners on).  The exit code is non-zero when any stage, query,
micro-batch or output check failed.
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

WORKLOADS = ("nightly_batch", "olap_serve", "stream_route", "corpus_ingest")

# input sizes, fixed per workload (the seed changes content, never size)
BATCH_MESSAGES = 10_000
OLAP_SF = 0.01
STREAM_BACKLOG = 12_000
STREAM_WARM = 600
CORPUS_DOCS = 400

# The BENCHMARK.json workloads are batch jobs with one fixed unit of work, so
# they report its time (and, as named metrics, work per second at the
# stated size), not per-operation percentiles: a pass has 7 to 19
# operations, too few samples beyond a tail percentile. olap_serve and
# stream_route print their rates and latency percentiles as named metrics.
END_TO_END = [  # name, unit, better
    ("setup_s", "s", "lower"),
    ("work_s", "s", "lower"),
]

PER_LAYER = [
    ("ingest.route_s", "s", "lower"), ("ingest.rows_in", "count", "higher"),
    ("ingest.rows_validated", "count", "higher"), ("ingest.rows_rejected", "count", "lower"),
    ("ingest.parse_failed", "count", "lower"), ("ingest.valid_ratio", "ratio", "higher"),
    ("warehouse.dims_s", "s", "lower"), ("warehouse.facts_s", "s", "lower"),
    ("warehouse.hub_s", "s", "lower"), ("warehouse.rows_written", "count", "higher"),
    ("warehouse.files_written", "count", "lower"), ("olap.deadletter_s", "s", "lower"),
    ("stream.mv_upkeep_s", "s", "lower"), ("stream.mv_partitions_touched", "count", "lower"),
    ("ext.apply_delta_s", "s", "lower"), ("ext.retro_sweep_s", "s", "lower"),
    ("ext.evict_s", "s", "lower"), ("ext.compact_s", "s", "lower"),
    ("ext.docs_in", "count", "higher"), ("ext.docs_accepted", "count", "higher"),
    ("ext.accept_ratio", "ratio", "higher"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"), ("spark.spill_mb", "MB", "lower"),
    ("spark.peak_exec_mem_mb", "MB", "lower"), ("spark.planning_ms", "ms", "lower"),
    ("spark.outside_jobs_s", "s", "lower"), ("jvm.heap_peak_mb", "MB", "lower"),
    ("calib.cpu_ms", "ms", "lower"), ("calib.spark_ms", "ms", "lower"),
    ("trace.work_s", "s", "lower"),
]

# reported only by the workloads run by hand (not in BENCHMARK.json)
BY_HAND_LAYER = {"olap_serve": [
    ("warehouse.s_family_p50_ms", "ms", "lower"), ("olap.q_family_p50_ms", "ms", "lower"),
    ("olap.queries_served", "count", "higher"),
], "stream_route": [
    ("stream.batches", "count", "lower"), ("stream.batch_ms_p50", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"), ("stream.query_planning_ms", "ms", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"), ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"), ("stream.backlog_rows_max", "count", "lower"),
    ("stream.mv_lag_ms", "ms", "lower"), ("stream.gen_late_ms", "ms", "lower"),
    ("stream.p99_ms", "ms", "lower"),
]}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print("e2ebench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars under $SPARK_HOME; they ship the Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark jars with a Scala compiler under $SPARK_HOME/jars")
    return os.path.join(jars, "*")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main:
        die("library sources src/main/scala not found; run from the repository root")
    if not bench:
        die("harness sources e2ebench/scala not found")
    return main + bench


def build(root, out):
    """Compile library + harness once per source state; dump topic specs."""
    srcs = sources(root)
    os.makedirs(out, exist_ok=True)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(out, "build.log")
    t = time.time()
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
             "-d", tmp, "-classpath", jars, "-nowarn"] + srcs,
            stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die("compile failed (see %s)" % log, 1)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    rc = subprocess.call(["java", "-cp", classes + os.pathsep + jars, "graftbench.Main",
                          "--dump-specs", os.path.join(out, "specs.json")])
    if rc != 0:
        die("topic spec dump failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print("e2ebench: built in %.1f s" % (time.time() - t), file=sys.stderr)
    return classes


def make_inputs(workload, seed, inp, specs):
    import gen
    os.makedirs(inp)
    if workload == "nightly_batch":
        ledger = gen.messages(gen.load_specs(specs), seed, BATCH_MESSAGES,
                              os.path.join(inp, "messages"), 8)
        json.dump(ledger, open(os.path.join(inp, "ledger.json"), "w"))
    elif workload == "olap_serve":
        gen.tables(seed, OLAP_SF, os.path.join(inp, "tables"))
    elif workload == "stream_route":
        shutil.copy(specs, os.path.join(inp, "specs.json"))
        sp = gen.load_specs(specs)
        gen.messages(sp, seed + 1000, STREAM_WARM, os.path.join(inp, "warm"), 1)
        ledger = gen.messages(sp, seed, STREAM_BACKLOG, os.path.join(inp, "backlog"), 12)
        json.dump(ledger, open(os.path.join(inp, "ledger.json"), "w"))
    else:
        gen.corpus(seed, CORPUS_DOCS, os.path.join(inp, "corpus"))


def oracle_checks(tables_dir, served_dir):
    """Every served result against SparkEntry.oracleSql run by DuckDB:
    columns sorted by name, rows by all columns, floats to 1e-9 relative."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
    oracle = json.load(open(os.path.join(served_dir, "oracle_sql.json")))
    out = []
    for name in sorted(oracle):
        try:
            exp = con.sql(oracle[name]).df()
            got = con.sql("SELECT * FROM read_parquet('%s/%s/*.parquet')"
                          % (served_dir, name)).df()
            out.append((name,) + same_frame(exp, got))
        except Exception as e:  # a failing oracle or read is a failed check
            out.append((name, False, "error: %s" % e))
    return out


def same_frame(exp, got):
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return False, "columns %s vs %s" % (list(exp.columns), list(got.columns))
    if len(exp) != len(got):
        return False, "rows %d vs %d" % (len(exp), len(got))
    if len(exp) == 0:
        return True, "0 rows"
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        for i, (a, b) in enumerate(zip(exp[c], got[c])):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if not abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)):
                    return False, "%s row %d: %r vs %r" % (c, i, a, b)
            elif str(a) != str(b):
                return False, "%s row %d: %r vs %r" % (c, i, a, b)
    return True, "%d rows" % len(exp)


def main():
    ap = argparse.ArgumentParser(description="graft end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        die("BENCHMARK.json not found; run from the repository root")
    out = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                       "e2ebench")
    classes = build(root, out)

    t0 = time.time()   # setup_s starts here: inputs, JVM, session, warm-up
    work = os.path.join(out, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    make_inputs(a.workload, a.seed, inp, os.path.join(out, "specs.json"))
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JDK_OPENS] +
           ["-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + spark_jars(), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--input", inp,
            "--work", work, "--bench", HERE, "--t0-ms", repr(t0 * 1000), "--out", result])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=170)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-6000:])
        die("JVM run failed (%s); work dir kept at %s" % (rc, work), 1)
    r = json.load(open(result))

    checks = list(r.get("checks", []))
    attempted, failed = r.get("ops", 0), r.get("ops_failed", 0)
    if a.workload == "olap_serve" and os.path.exists(os.path.join(work, "served")):
        for name, ok, detail in oracle_checks(os.path.join(inp, "tables"),
                                              os.path.join(work, "served")):
            checks.append({"name": "olap_serve: %s matches the DuckDB oracle" % name,
                           "ok": ok, "detail": detail})
            attempted += 1
            failed += 0 if ok else 1

    if a.trace:
        layer = r.get("layer", {})
        names = PER_LAYER + BY_HAND_LAYER.get(a.workload, [])
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u, _ in names}
    else:
        metrics = {n: {"value": r.get(n), "unit": u} for n, u, _ in END_TO_END}
    numbers_ok = all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
                     for m in metrics.values())
    correct = (failed == 0 and not r.get("errors") and numbers_ok
               and all(c["ok"] for c in checks))

    for c in checks:
        print("check %-4s %s (%s)" % ("ok" if c["ok"] else "FAIL", c["name"], c["detail"]))
    for e in r.get("errors", []):
        print("error " + e)
    if not a.trace:
        for n, u, b in END_TO_END:
            print("metric %-24s %14.4f %-6s (%s is better)" % (n, r.get(n) or float("nan"), u, b))
        for m in r.get("named", []):
            print("metric %-24s %14.4f %-6s (%s is better)"
                  % (m["name"], m["value"], m["unit"], m["better"]))
    cal = r.get("calibration", {})
    print("calibration cpu_ms=%.1f spark_ms=%.1f cores=%s"
          % (cal.get("cpu_ms", float("nan")), cal.get("spark_ms", float("nan")), cal.get("cores")))

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": a.cores,
              "seconds": a.seconds, "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "calibration": cal, "correct": correct, "checks": checks,
              "end_to_end": {n: r.get(n) for n, _, _ in END_TO_END},
              "named": r.get("named", []),
              "op_latency_ms": {k: r.get(k) for k in ("p50_ms", "p95_ms", "p99_ms", "n_lat")},
              "per_layer": r.get("layer", {}), "spans": r.get("spans", [])}
    rec_dir = os.path.join(out, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, "%s-seed%d-trace%d-cores%d.json"
                           % (a.workload, a.seed, a.trace, a.cores)), "w") as f:
        json.dump(record, f)
    if correct:  # a failed run keeps its work dir for inspection
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
