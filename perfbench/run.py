#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source (sbt, offline)
when the sources changed, generates the workload's inputs from the seed,
runs one closed-loop client against a local Spark session, checks the
outputs against DuckDB, writes one run record under .bench_runs/ and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones from
the benchmark's own Spark listeners and spans.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
DEADLINE_S = 170

# Frozen by name. BATCH is every 18th batch entry of Queries.all in registry
# order from q1_pricing_summary: the operator modules, relational, text,
# dedup, corpus and framework (q14) queries, from 0.1 s floor-bound ones to
# x93's compute-bound prefix join.
BATCH = [
    "q1_pricing_summary", "q22_pivot", "x56_split_contamination", "x74_span_novelty",
    "x93_prefix_join", "q41_compaction_plan", "x142_dedup_impact", "x107_temperature_mixture",
    "x10_token_count", "x30_delta_dedup", "x50_equidepth_histogram", "x163_packing_efficiency",
    "q14_incremental_daily_agg",
]
# Every 6th entry of StreamQueries.all, qs1 to qs40.
STREAM = [
    "qs1_stream_tumbling", "qs5_stream_static_join", "qs10_stream_chunk_ingest",
    "qs16_stream_unique_visitors", "qs22_stream_leaderboard", "qs28_stream_rank_drift",
    "qs34_stream_join_view", "qs40_stream_dedup_compaction",
]
WORKLOADS = {
    "batch_floor": {"kind": "batch", "sf": 0.01, "queries": BATCH, "passes": 4},
    "stream_drain": {"kind": "stream", "sf": 0.01, "queries": STREAM, "passes": 5},
    "pipeline_daily": {"kind": "pipeline", "history_days": 30, "held_back": 24, "late_days": 4,
                       "rows_per_day": 240, "min_appends": 16},
}
END_TO_END_UNITS = {"setup_s": "s", "total_s": "s", "op_p50_s": "s", "retained_heap_mb": "MiB"}
SETUP_REPEATS = 3
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
selfcheck = None  # tools/selfcheck.py, the project's canonical result hash


_children = []


def _stop_children(signum, _frame):
    for p in list(_children):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    sys.exit(128 + signum)


def child(cmd, log_path, timeout, **kw):
    """Run cmd in its own process group with output to log_path; kill the
    group on a time-out or when this process is told to stop. Returns the
    exit code, or "timeout"."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)
        _children.append(p)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return "timeout"
        finally:
            _children.remove(p)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the harness when their sources changed; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not in this checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file) and os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    # offline: every dependency must already be in the local caches
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    rc = child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], log, 840,
               env=env, cwd=HERE)
    if rc != 0 or not os.path.exists(cp_file):
        tail = open(log).read()[-3000:]
        die(f"build failed (exit {rc}), see {log}:\n{tail}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip(), stamp


def file_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def generate(spec, data, seed):
    """Generate the inputs SETUP_REPEATS times; return the median time. Every
    repeat must write the same bytes."""
    times, digests = [], set()
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        if spec["kind"] == "pipeline":
            gen.pipeline(data, seed, spec["history_days"], spec["held_back"], spec["late_days"],
                         spec["rows_per_day"])
        else:
            gen.tables(data, spec["sf"], seed)
        times.append(time.perf_counter() - t0)
        digests.add(file_digest(data))
    if len(digests) != 1:
        die("input generation is not deterministic for this seed")
    return statistics.median(times)


def run_jvm(classpath, args, work, deadline):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    for d in ("scratch", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # no hsperfdata file in the system temp dir; native libraries unpack
    # into java.io.tmpdir, inside the checkout
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    launched = time.time()
    rc = child(cmd, os.path.join(work, "jvm.log"), deadline - time.time(), env=env, cwd=work)
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        die(f"program run failed ({rc}):\n{tail}")
    return launched


def duck(data):
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def parquet_hash(path):
    t = pq.read_table(path)
    cols = t.column_names
    rows = list(zip(*[t.column(c).to_pylist() for c in cols])) if cols else []
    return selfcheck.canon(cols, rows)


def check_queries(record, data):
    """Oracle queries: canonical hash equal to DuckDB's on the same inputs.
    Others: non-empty, and the same hash on both runs."""
    problems = []
    con = duck(data)
    by_name = {}
    for c in record["checks"]:
        by_name.setdefault(c["name"], []).append(c)
    for name, runs in sorted(by_name.items()):
        if any(c["error"] for c in runs):
            problems.append(f"{name}: {runs[0]['error'] or runs[-1]['error']}")
            continue
        got = [parquet_hash(c["path"]) for c in runs]
        sql = runs[0]["oracle"]
        if sql:
            try:
                res = con.execute(sql)
                want = selfcheck.canon([d[0] for d in res.description], res.fetchall())
            except duckdb.Error as e:
                problems.append(f"{name}: oracle SQL failed in DuckDB: {e}")
                continue
            if got[0] != want:
                problems.append(f"{name}: {got[0][1]} rows differ from DuckDB's {want[1]}")
        elif got[0][1] == 0 or len(set(got)) != 1:
            problems.append(f"{name}: empty or unrepeatable result {got}")
    return problems


def check_pipeline(record, data):
    """Every append's total equals DuckDB's over the same raw files."""
    man = json.load(open(os.path.join(data, "manifest.json")))
    problems = []
    con = duckdb.connect()
    for t in record["extra"]["totals"]:
        k = t["days"] - len(man["backfill"])
        days = man["backfill"] + man["arrivals"][:k]
        files = [os.path.join(data, "raw", f"{d}.parquet") for d in days]
        want = con.execute(
            "SELECT count(DISTINCT day) AS n_days, count(*) AS n_rows, "
            "sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty, "
            "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue, "
            "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS gross FROM read_parquet(?)", [files]).fetchone()
        names = ["n_days", "n_rows", "qty", "revenue", "gross"]
        got = t["rows"]
        if len(got) != 1 or [got[0][n] for n in names] != [str(v) for v in want]:
            problems.append(f"total after {t['days']} days: {got} != {dict(zip(names, map(str, want)))}")
    return problems


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    global selfcheck
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)
    deadline = time.time() + DEADLINE_S
    spec = WORKLOADS[a.workload]

    classpath, source_hash = build()
    deadline = max(deadline, time.time() + DEADLINE_S - 20)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck as sc
    selfcheck = sc

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    shutil.rmtree(work, ignore_errors=True)
    # start from an idle disk: writeback left by an earlier run would
    # otherwise land inside this run's timers
    os.sync()
    try:
        gen_s = generate(spec, data, a.seed)
        out = os.path.join(work, "record.json")
        jargs = ["--workload", spec["kind"], "--data", data, "--work", work, "--out", out,
                 "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if spec["kind"] == "pipeline":
            jargs += ["--min-appends", str(spec["min_appends"])]
        else:
            order = list(spec["queries"])
            random.Random(a.seed).shuffle(order)
            jargs += ["--queries", ",".join(order), "--passes", str(spec["passes"])]
        launched = run_jvm(classpath, jargs, work, deadline)
        record = json.load(open(out))
        problems = (check_pipeline if spec["kind"] == "pipeline" else check_queries)(record, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()
    acc = metrics.account(record["ops"])
    setup_s = gen_s + record["setup_end"] / 1000.0 - launched
    if a.trace:
        values = metrics.layers(record)
        shown = {k: {"value": values[k], "unit": u} for k, u in metrics.LAYER_UNITS.items()}
    else:
        _, e2e = metrics.end_to_end(record, spec)
        values = dict(setup_s=setup_s, **e2e)
        shown = {k: {"value": values[k], "unit": END_TO_END_UNITS[k]} for k in END_TO_END_UNITS}
    samples = acc["samples_s"]
    result = {"correct": not problems and acc["failed"] == 0, "attempted": acc["attempted"],
              "failed": acc["failed"], "metrics": shown}

    os.makedirs(os.path.join(RUNS, a.workload), exist_ok=True)
    rec_path = os.path.join(RUNS, a.workload, f"{stamp}-seed{a.seed}-trace{a.trace}-{os.getpid()}.json")
    full = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "spec": spec, "cores": record["cores"], "git_commit": git_commit(),
        "source_sha256": source_hash, "spark_version": record["spark_version"],
        "spark_conf": record["spark_conf"], "result": result,
        "latency": {"samples": len(samples), "p50_s": statistics.median(samples) if samples else None,
                    # a percentile is given only with ten samples beyond it
                    "p90_s": metrics.quantile(samples, 0.9) if metrics.reportable(len(samples), 0.9) else None},
        "samples_s": samples, "failed_ops": acc["failed_ops"],
        "check_problems": problems, "setup": {"generate_s": gen_s, "setup_s": setup_s},
        "phases": metrics.phase_times(record) if spec["kind"] == "pipeline" else None,
        "jvm": record["jvm"],
        "ops": record["ops"], "spans": record["spans"], "extra": record["extra"],
        "trace_events": record["trace"],
    }
    with open(rec_path, "x") as f:
        json.dump(full, f)
    for p in problems + acc["failed_ops"]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    missing = [k for k, v in shown.items() if not isinstance(v["value"], (int, float))
               or math.isnan(v["value"])]
    if missing:
        die(f"no value for {', '.join(missing)}: every op failed; see {rec_path}")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
