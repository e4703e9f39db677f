#!/usr/bin/env python3
"""Benchmark of the engine's real-time signal path, training build and
index lifecycle. See BENCH.md in this directory.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--size full|smoke]

Builds the engine and the harness from source (sbt, once per source
state), runs one JVM on the tables in perfbench/data, checks every
output against its oracle, and prints one JSON result as the last
stdout line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.normpath(os.path.join(HERE, "..", "src", "main", "scala"))
STATE = os.path.join(HERE, ".work")
BUILD_LOG = os.path.join(STATE, "build.log")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "source.stamp")
RESULTS = os.path.join(STATE, "results")
RUN_LIMIT_S = 170

# The workloads BENCHMARK.json lists first; corpus_lifecycle runs on
# request, and one trimmed cycle of it runs in every traced run (see
# BENCH.md for why it is not listed).
WORKLOADS = ("realtime_signals", "training_build", "corpus_lifecycle")
# Input tables: the engine's testdata at two scales, copied here so the
# benchmark reads nothing outside its checkout. "full" is what the
# benchmark measures; "smoke" serves the warm passes, a traced run's
# minimal passes and the benchmark's test.
DATA = {"full": os.path.join(HERE, "data", "sf0.01"),
        "smoke": os.path.join(HERE, "data", "sf0.001")}
# Open-loop wall time per 5-min bucket of the realtime feed.
MS_PER_BUCKET = 200


def end_to_end(workload, readings, rows):
    """The workload's readings under the end-to-end metric names."""
    if workload == "realtime_signals":
        return {"latency_p50_ms": readings["signal_latency_p50_ms"],
                "bulk_events_per_s": readings["catchup_events_per_s"]}
    if workload == "training_build":
        return {"latency_p50_ms": readings["score_p50_ms"],
                "bulk_events_per_s": rows["events"] / readings["train_build_s"]}
    return {"latency_p50_ms": readings["increment_p50_ms"],
            "bulk_events_per_s": (rows["documents"] + rows["embeddings"])
            / readings["maintenance_s"]}


def over_rate(backlogs, bucket_events, arrival_per_s, catchup_per_s):
    """True when the open loop ran above what the query sustains.

    `backlogs` holds the messages waiting at each open-loop batch start.
    The first batch starts on an empty queue and is left out. With three
    or more batches after it, the backlog grew when their later half
    averages above 1.5x their earlier half plus one bucket of messages;
    fewer batches cannot show a trend. Independently, buckets arriving
    faster than the same run's catch-up drained them (`arrival_per_s`
    against `catchup_per_s`, both in buckets per second) is over-rate.
    """
    if arrival_per_s >= catchup_per_s:
        return True
    b = backlogs[1:]
    if len(b) < 3:
        return False
    half = len(b) // 2
    early = sum(b[:half]) / half
    late = sum(b[-half:]) / half
    return late > 1.5 * early + bucket_events


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the classpath matches the sources."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    os.makedirs(STATE, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "compile", "exportClasspath"]
    with open(BUILD_LOG, "w") as log:
        rc = subprocess.run(cmd, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        with open(BUILD_LOG) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}), log in {BUILD_LOG}", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_jvm(phases, seed, seconds, trace, size, work, deadline):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", cp, "perfbench.Main", ",".join(phases), str(seed), str(seconds),
              str(trace), size, DATA[size], DATA["smoke"], str(MS_PER_BUCKET), work, result])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time limit", 4)
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {rc}", 5)
    with open(result) as fh:
        return json.load(fh)


def canon(con, sql):
    df = con.execute(sql).df()
    return df[sorted(df.columns)]


def compare(got, exp):
    """None when equal: same columns, types, rows and exact values."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = got.sort_values(by=list(got.columns), ignore_index=True)
    e = exp.sort_values(by=list(exp.columns), ignore_index=True)
    for c in g.columns:
        if str(g[c].dtype) != str(e[c].dtype):
            return f"dtype {c}: {g[c].dtype} != {e[c].dtype}"
        if g[c].dtype == object:
            neq = g[c].fillna("\0").astype(str) != e[c].fillna("\0").astype(str)
        else:
            neq = ~((g[c] == e[c]) | (g[c].isna() & e[c].isna()))
        if neq.any():
            return f"value {c}: {int(neq.sum())} rows differ"
    return None


def oracle_gate(outputs):
    """Check each materialised output against its registered oracle SQL,
    run in DuckDB over the tables it was built from; returns the list of
    mismatches."""
    import duckdb
    bad = []
    for name, o in sorted(outputs.items()):
        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            src = os.path.join(o["data"], f"{t}.parquet")
            if os.path.isdir(src):  # a table the harness wrote with Spark
                src = os.path.join(src, "*.parquet")
            if glob.glob(src):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        exp = canon(con, o["oracle"])
        if o["path"]:
            got = canon(con, f"SELECT * FROM read_parquet('{o['path']}/*.parquet', "
                             "hive_partitioning=false)")
            diff = compare(got, exp)
        else:  # no partition written: the engine emitted no rows
            diff = f"no output, oracle has {len(exp)} rows" if len(exp) else None
        if diff:
            bad.append(f"{name}: {diff}")
        con.close()
    return bad


def phases_for(workload, trace):
    """A traced run covers every workload in one JVM, the named one
    first, so every per-layer metric is measured in every traced run."""
    if trace:
        return [workload] + [w for w in WORKLOADS if w != workload]
    return [workload]


def row_counts(data):
    import duckdb
    con = duckdb.connect()
    rows = {t: con.execute(f"SELECT count(*) FROM '{data}/{t}.parquet'").fetchone()[0]
            for t in ("events", "documents", "embeddings")}
    con.close()
    return rows


def save(record):
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{record['workload']}-s{record['seed']}-t{record['trace']}.json"
    with open(os.path.join(RESULTS, name), "w") as fh:
        json.dump(record, fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=tuple(DATA), default="full")
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}", 2)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build()
    deadline = time.time() + RUN_LIMIT_S  # a first run builds before this

    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    phases = phases_for(a.workload, a.trace)
    r = run_jvm(phases, a.seed, a.seconds, a.trace, a.size, work, deadline)

    bad = oracle_gate(r["outputs"])
    stamp = r["stamp"]
    if "realtime_signals" in phases:
        # an open loop that outran the query is a failed operation, not a
        # latency
        stamp["over_rate"] = over_rate(
            stamp["open_loop_backlogs"], stamp["bucket_events"],
            stamp["open_loop_events_per_s"] / stamp["bucket_events"],
            r["readings"]["catchup_events_per_s"])
        if stamp["over_rate"]:
            bad.append("realtime_signals: over-rate, the open loop outran the query")
    failed = r["failed"] + len(bad)
    attempted = r["attempted"] + ("realtime_signals" in phases)
    readings = dict(r["readings"])
    readings.update(end_to_end(a.workload, readings, row_counts(DATA[a.size])))
    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {m["name"]: {"value": readings[m["name"]], "unit": m["unit"]}
               for m in spec[kind]}
    record = dict(stamp, workload=a.workload, seed=a.seed, trace=a.trace,
                  size=a.size, seconds=a.seconds, phases=phases,
                  mismatches=bad, attempted=attempted, failed=failed,
                  readings=readings)
    save(record)
    print(json.dumps({"run_stamp": record}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
