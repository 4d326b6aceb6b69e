"""Arithmetic over one run record: latency percentiles, interval coverage,
self time, idle gaps, failure accounting and the per-layer metrics.

Times in a record are epoch milliseconds; every metric returned here is in
the unit its name ends with (_s seconds, _mb MiB, _kb KiB, _frac a share).
"""
import math
import statistics

MIN_TAIL = 10

# Every per-layer metric `layers` reports, with its unit.
LAYER_UNITS = {
    "operators.run_s": "s", "operators.eager_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_s": "s", "scheduler.empty_task_frac": "ratio", "driver.idle_gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s", "executor.busy_frac": "ratio",
    "shuffle.write_mb": "MiB", "shuffle.read_mb": "MiB", "spill_mb": "MiB",
    "io.read_mb": "MiB", "io.write_mb": "MiB", "io.write_amp": "ratio",
    "stream.batches": "count", "stream.nonempty_batch_frac": "ratio",
    "stream.latest_offset_s": "s", "stream.query_planning_s": "s", "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s", "stream.harness_s": "s",
    "state.commit_s": "s", "state.rows": "count", "state.memory_mb": "MiB",
    "graph.backend_open_s": "s", "graph.snapshot_s": "s", "graph.read_s": "s",
    "backend.log_kb": "KiB",
    "exec.build_s": "s", "exec.partitions_built": "count", "exec.skip_ratio": "ratio",
    "exec.noop_partitions_built": "count", "exec.noop_skip_ratio": "ratio",
    "exec.jobs_per_built_partition": "count", "exec.s_per_built_partition": "s",
    "cache.persisted_rdds": "count", "jvm.live_heap_mb": "MiB",
    "trace.overhead_frac": "ratio",
}


def quantile(samples, q):
    """Nearest-rank q-quantile (0 < q <= 1) of a non-empty sample."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail_count(n, q):
    """Samples strictly beyond the nearest-rank q-quantile of n samples."""
    return n - max(1, math.ceil(q * n))


def reportable(n, q):
    """A percentile is reported only with at least MIN_TAIL samples beyond it."""
    return n > 0 and tail_count(n, q) >= MIN_TAIL


def merge(intervals):
    """Union of [start, end) intervals as a sorted list of disjoint ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered(span, intervals):
    """Length of `span` covered by the union of `intervals`: overlapping
    intervals (concurrent children) count once."""
    s0, e0 = span
    return sum(max(0.0, min(e, e0) - max(s, s0)) for s, e in merge(intervals))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def idle_gap(op, jobs):
    """Op wall time during which no job was running."""
    return self_time(op, jobs)


def account(ops):
    """Failure accounting: failed ops are counted and named, and only
    successful ops give latency samples."""
    failed = [o for o in ops if not o["ok"]]
    return {
        "attempted": len(ops),
        "failed": len(failed),
        "failed_ops": [f"{o['name']}: {o.get('error')}" for o in failed],
        "samples_s": [(o["end"] - o["start"]) / 1000.0 for o in ops if o["ok"]],
    }


def _owner(ops, t):
    """Index of the op whose interval holds time t, or None."""
    for i, o in enumerate(ops):
        if o["start"] <= t <= o["end"]:
            return i
    return None


def end_to_end(record, spec):
    """The untraced run's end-to-end metrics (setup_s is added by run.py).
    They count the same amount of work in every run: the first
    spec["passes"] passes over a query list, or the first
    spec["min_appends"] appends. Later ops, run to fill --seconds, are only
    recorded."""
    ops = record["ops"]
    acc = account(ops)
    if spec["kind"] == "pipeline":
        appends = [o for o in ops if o["kind"] == "append"][:spec["min_appends"]]
        timed = [o for o in ops if o["kind"] != "append"] + appends
        total = (max(o["end"] for o in timed) - min(o["start"] for o in timed)) / 1000.0
        lat = account(appends)["samples_s"]
    else:
        ops = [o for o in ops if o["pass"] < spec["passes"]]
        per_query = {}
        for o in ops:
            if o["ok"]:
                per_query.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1000.0)
        total = sum(statistics.median(xs) for xs in per_query.values())
        lat = account(ops)["samples_s"]
    return acc, {
        "total_s": total,
        "op_p50_s": statistics.median(lat) if lat else float("nan"),
        "retained_heap_mb": record["retained_heap_mb"],
    }


def phase_times(record):
    """Pipeline phase latencies (seconds): backfill, median no-op rebuild and
    median reopen + no-op rebuild."""
    ops = record["ops"]
    def med(kind):
        xs = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["kind"] == kind and o["ok"]]
        return statistics.median(xs) if xs else float("nan")
    return {"backfill_s": med("backfill"), "noop_build_s": med("noop"), "reopen_build_s": med("reopen")}


def layers(record):
    """Per-layer metrics from a traced run, summed over its traced ops."""
    trace = record["trace"]
    cores = record["cores"]
    ops = [o for o in record["ops"] if o["traced"]]
    ok_ids = {o["id"] for o in ops}
    spans = [s for s in record["spans"] if s["op"] in ok_ids]
    by_id = {o["id"]: o for o in ops}
    op_iv = [(o["start"], o["end"]) for o in ops]
    ivs = [{"start": a, "end": b} for a, b in op_iv]

    def mine(t):
        return _owner(ivs, t) is not None

    jobs = [j for j in trace["jobs"] if mine(j["start"])]
    tasks = [t for t in trace["tasks"] if mine(t["launch"])]
    stages = [s for s in trace["stages"] if mine(s["start"])]
    execs = [e for e in trace["executions"] if mine(e["start"])]
    progress = [p for p in trace["stream_progress"] if mine(p["timestamp"])]
    job_iv = [(j["start"], j["end"]) for j in jobs]

    def spans_named(name):
        return [s for s in spans if s["name"] == name]

    def span_sum(name):
        return sum(s["end"] - s["start"] for s in spans_named(name)) / 1000.0

    def jobs_in(name):
        return [j for j in jobs if any(s["start"] <= j["start"] <= s["end"] for s in spans_named(name))]

    run_self = 0.0
    for s in spans_named("operators.run"):
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
        kids += [iv for iv in job_iv if s["start"] <= iv[0] <= s["end"]]
        run_self += self_time((s["start"], s["end"]), kids) / 1000.0

    def tsum(key, scale=1.0):
        return sum(t.get(key, 0) for t in tasks) * scale

    delay = sum(max(0, (t["finish"] - t["launch"]) - t.get("run_ms", 0) - t.get("deser_ms", 0)
                    - t.get("ser_ms", 0) - t["getting_result_ms"]) for t in tasks) / 1000.0
    moved = ("in_bytes", "out_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
             "in_records", "out_records", "shuffle_read_records", "shuffle_write_records")
    empty = sum(1 for t in tasks if all(t.get(k, 0) == 0 for k in moved))
    wall = sum(b - a for a, b in op_iv) / 1000.0
    mb = 1.0 / (1 << 20)

    def dur(p, k):
        return p["duration_ms"].get(k, 0) / 1000.0
    last = {}
    for p in sorted(progress, key=lambda p: (p["query"], p["batch"])):
        last[p["query"]] = p
    stream_ops = {_owner(ivs, p["timestamp"]) for p in progress}
    stream_wall = sum(op_iv[i][1] - op_iv[i][0] for i in stream_ops) / 1000.0

    builds = {b["op"]: b for b in record["extra"].get("builds", []) if b["op"] in by_id}
    built = sum(b["built"] for b in builds.values())
    considered = sum(b["built"] + b["skipped"] for b in builds.values())
    noop = [b for i, b in builds.items() if by_id[i]["kind"] in ("noop", "reopen")]
    noop_considered = sum(b["built"] + b["skipped"] for b in noop)
    building = [i for i, b in builds.items() if b["built"] > 0]
    build_spans = [s for s in spans_named("exec.build") if s["op"] in building]
    build_jobs = [j for j in jobs if any(s["start"] <= j["start"] <= s["end"] for s in build_spans)]
    build_out = sum(t.get("out_bytes", 0) for t in tasks if _owner(ivs, t["launch"]) is not None
                    and ops[_owner(ivs, t["launch"])]["id"] in building)
    published = sum(builds[i]["published_bytes"] for i in building)

    return {
        "operators.run_s": run_self,
        "operators.eager_jobs": len(jobs_in("operators.run")),
        "catalyst.analysis_s": sum(e["analysis_ms"] for e in execs) / 1000.0,
        "catalyst.optimization_s": sum(e["optimization_ms"] for e in execs) / 1000.0,
        "catalyst.planning_s": sum(e["planning_ms"] for e in execs) / 1000.0,
        "catalyst.executions": len(execs),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": len(tasks),
        "scheduler.delay_s": delay,
        "scheduler.empty_task_frac": empty / len(tasks) if tasks else 0.0,
        "driver.idle_gap_s": sum(idle_gap(iv, job_iv) for iv in op_iv) / 1000.0,
        "executor.run_s": tsum("run_ms", 1e-3),
        "executor.cpu_s": tsum("cpu_ns", 1e-9),
        "executor.gc_s": tsum("gc_ms", 1e-3),
        "executor.busy_frac": tsum("run_ms", 1e-3) / (wall * cores) if wall else 0.0,
        "shuffle.write_mb": tsum("shuffle_write_bytes", mb),
        "shuffle.read_mb": tsum("shuffle_read_bytes", mb),
        "spill_mb": tsum("disk_spill_bytes", mb),
        "io.read_mb": tsum("in_bytes", mb),
        "io.write_mb": tsum("out_bytes", mb),
        "io.write_amp": build_out / published if published else 0.0,
        "stream.batches": len(progress),
        "stream.nonempty_batch_frac":
            sum(1 for p in progress if p["input_rows"] > 0) / len(progress) if progress else 0.0,
        "stream.latest_offset_s": sum(dur(p, "latestOffset") for p in progress),
        "stream.query_planning_s": sum(dur(p, "queryPlanning") for p in progress),
        "stream.add_batch_s": sum(dur(p, "addBatch") for p in progress),
        "stream.wal_commit_s": sum(dur(p, "walCommit") for p in progress),
        "stream.commit_offsets_s": sum(dur(p, "commitOffsets") for p in progress),
        "stream.harness_s": stream_wall - sum(dur(p, "triggerExecution") for p in progress),
        "state.commit_s": sum(p["state_commit_ms"] for p in progress) / 1000.0,
        "state.rows": sum(p["state_rows"] for p in last.values()),
        "state.memory_mb": sum(p["state_memory_bytes"] for p in last.values()) * mb,
        "graph.backend_open_s": span_sum("graph.backend_open"),
        "graph.snapshot_s": span_sum("graph.snapshot"),
        "graph.read_s": span_sum("graph.read"),
        "backend.log_kb": record["extra"].get("backend_log_bytes", 0) / 1024.0,
        "exec.build_s": span_sum("exec.build"),
        "exec.partitions_built": built,
        "exec.skip_ratio": (considered - built) / considered if considered else 0.0,
        "exec.noop_partitions_built": sum(b["built"] for b in noop),
        "exec.noop_skip_ratio":
            sum(b["skipped"] for b in noop) / noop_considered if noop_considered else 0.0,
        "exec.jobs_per_built_partition": len(build_jobs) / built if built else 0.0,
        "exec.s_per_built_partition":
            sum(s["end"] - s["start"] for s in build_spans) / 1000.0 / built if built else 0.0,
        "cache.persisted_rdds": sum(o["persisted_rdds"] for o in ops),
        "jvm.live_heap_mb": max((o["live_heap_mb"] for o in ops), default=0.0),
        "trace.overhead_frac": overhead(record),
    }


def overhead(record):
    """Tracing overhead: traced over untraced time of the paired ops, minus 1."""
    ops = [o for o in record["ops"] if o["ok"] and o["kind"] in ("query", "append")]
    t = sum(o["end"] - o["start"] for o in ops if o["traced"])
    u = sum(o["end"] - o["start"] for o in ops if not o["traced"])
    n_t = sum(1 for o in ops if o["traced"])
    n_u = sum(1 for o in ops if not o["traced"])
    if not (t and u):
        return 0.0
    return (t / n_t) / (u / n_u) - 1.0
