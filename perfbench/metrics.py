"""Metric arithmetic of the perfbench benchmark: percentiles, due-time
latency accounting, output checks and the per-layer fold of a traced run.
Pure functions over the harness' result file, so they can be tested
without Spark (perfbench/tests)."""
import bisect
import hashlib
import math
import statistics

MARKET_MODULES = ("analytics", "relational", "ledger", "scanner", "operators",
                  "sinks", "plans", "schema")
CORPUS_MODULES = ("text", "ann", "multimodal")
MODULES = MARKET_MODULES + CORPUS_MODULES
LANES = ("ingest", "scan", "curation")

END_TO_END = (("setup_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
              ("work_s", "s"), ("latency_ms", "ms"))


def percentile(values, q, min_beyond=10):
    """Nearest-rank `q` quantile of `values`, or None unless at least
    `min_beyond` samples rank above it (a tail read from fewer samples is
    one outlier wide)."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def geomean(values):
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def query_summary(ops):
    """Lap and latency figures of a query workload. Box noise only ever
    adds time, so each query counts with its fastest execution, and the lap
    time is the sum of those."""
    measured = [op for op in ops if op["ok"]]
    laps, best = {}, {}
    for op in measured:
        laps[op["lap"]] = laps.get(op["lap"], 0.0) + op["wall_ms"]
        best[op["query"]] = min(best.get(op["query"], math.inf),
                                op["wall_ms"])
    walls = [op["wall_ms"] for op in measured]
    return {"lap_s": sum(best.values()) / 1000 if best else None,
            "lap_times_s": [laps[k] / 1000 for k in sorted(laps)],
            "query_best_ms": dict(sorted(best.items())),
            "latency_geomean_ms": geomean(best.values()) if best else None,
            "query_p50_ms": percentile(walls, 0.5),
            "query_p90_ms": percentile(walls, 0.9)}


def due_latencies_ms(schedule, sink, slice_first_ts):
    """Latency of each sunk row, counted from the time the slice holding its
    later leg was DUE, not from when it was written: a generator or engine
    stall counts against the latency.

    Rows whose later leg is in a slice on no schedule (the warm-up slice)
    have no latency.

    schedule:       [(slice, due_ns, written_ns)]
    sink:           [(later_leg_ts, sink_ns)]
    slice_first_ts: event time of the first row of each slice, ascending.
    """
    return [lat for _, lat in _slice_latencies(schedule, sink, slice_first_ts)]


def _slice_latencies(schedule, sink, slice_first_ts):
    due = {int(i): d for i, d, _ in schedule}
    out = []
    for ts, t in sink:
        k = bisect.bisect_right(slice_first_ts, ts) - 1
        if k in due:
            out.append((k, (t - due[k]) / 1e6))
    return out


def latency_growth_ms(schedule, sink, slice_first_ts):
    """Mean due-time latency of the rows whose later leg is in the last
    third of the scheduled slices, minus that of the first third. Near 0
    when the lane keeps up with the generator; a backlog makes it grow with
    the length of the run. None without rows in both thirds."""
    ks = sorted(int(i) for i, _, _ in schedule)
    third = len(ks) // 3
    if third == 0:
        return None
    first, last = [], []
    for k, lat in _slice_latencies(schedule, sink, slice_first_ts):
        if k < ks[third]:
            first.append(lat)
        elif k >= ks[-third]:
            last.append(lat)
    if not first or not last:
        return None
    return statistics.mean(last) - statistics.mean(first)


def drain_rows_per_s(batches):
    """Rows per second of busy time over micro-batches [(rows, trigger_ms)]:
    what the lane drains while it runs a batch."""
    ms = sum(t for _, t in batches)
    return sum(r for r, _ in batches) * 1000 / ms if ms else None


def generator_lateness_ms(schedule):
    """How late the generator released each slice, in ms."""
    return [(w - d) / 1e6 for _, d, w in schedule]


def output_key(op):
    """The order-insensitive fingerprint of one query output."""
    return {"rows": op["rows"], "hx": op["hx"], "hs": op["hs"]}


def check_ops(ops, expected):
    """Names of the executions that failed or whose output differs from the
    committed fingerprint (a query without one fails: nothing to check)."""
    bad = []
    for op in ops:
        want = expected.get(op["query"])
        if not op.get("ok") or want is None or output_key(op) != want:
            bad.append(f'{op["query"]}@{op["lap"]}')
    return bad


def id_set_fingerprint(ids):
    ids = sorted(int(i) for i in ids)
    return {"count": len(ids),
            "sha256": hashlib.sha256(",".join(map(str, ids)).encode())
            .hexdigest()}


def per_layer_names():
    """(name, unit) of every per-layer metric, in a fixed order."""
    out = []
    for m in MARKET_MODULES:
        out += [(f"{m}.build_ms", "ms"), (f"{m}.plan_ms", "ms"),
                (f"{m}.jobs", "count"), (f"{m}.tasks", "count")]
    out += [("text.build_ms", "ms"), ("text.jobs", "count"),
            ("ann.build_ms", "ms"), ("multimodal.build_ms", "ms")]
    for m in MODULES:
        out += [(f"{m}.exec_ms", "ms"), (f"{m}.task_cpu_ms", "ms"),
                (f"{m}.task_blocked_ms", "ms"), (f"{m}.shuffle_bytes", "bytes"),
                (f"{m}.spill_bytes", "bytes")]
    out += [("sources.stage_ms", "ms"), ("sources.input_bytes", "bytes")]
    for lane in LANES:
        out += [(f"streaming.{lane}.batches", "count"),
                (f"streaming.{lane}.add_batch_ms", "ms"),
                (f"streaming.{lane}.overhead_ms", "ms"),
                (f"streaming.{lane}.jobs_per_batch", "count"),
                (f"streaming.{lane}.task_cpu_ms", "ms")]
    out += [("streaming.scan.state_rows_max", "count"),
            ("streaming.scan.state_bytes_max", "bytes"),
            ("sinks.storage_files", "count"), ("text.store_files", "count"),
            ("text.store_bytes", "bytes"), ("bench.gen_late_max_ms", "ms")]
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(result, module_of):
    """Folds a traced result into per-layer values. Layers a workload does
    not run read 0. Per-module values are sums over the module's queries
    in one lap, then the median over the laps."""
    values = {name: 0.0 for name, _ in per_layer_names()}
    trace = result.get("trace") or {}
    jobs = trace.get("jobs", [])
    tasks_by_job = {}
    for t in trace.get("tasks", []):
        tasks_by_job.setdefault(t["job"], []).append(t)
    plan_ms = {p["execution"]: p["analysis_ms"] + p["optimization_ms"] +
               p["planning_ms"] for p in trace.get("plans", [])}
    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(j["span"], []).append(j)

    def job_tasks(js):
        return [t for j in js for t in tasks_by_job.get(j["job"], [])]

    # queries: per (lap, module) sums
    per_lap = {}
    for op in result.get("ops", []):
        if not op.get("ok"):
            continue
        m = module_of[op["query"]]
        base = f'q/{op["lap"]}/{op["query"]}'
        js = [j for s in (base, base + "/build", base + "/exec")
              for j in jobs_by_span.get(s, [])]
        ts = job_tasks(js)
        run_ms = sum(t["run_ms"] for t in ts)
        cpu_ms = sum(t["cpu_ns"] for t in ts) / 1e6
        row = {
            "build_ms": op["build_ms"], "exec_ms": op["exec_ms"],
            "plan_ms": sum(plan_ms.get(e, 0) for e in
                           {j["execution"] for j in js} - {None}),
            "jobs": len(js), "tasks": len(ts), "task_cpu_ms": cpu_ms,
            "task_blocked_ms": max(0.0, run_ms - cpu_ms),
            "shuffle_bytes": sum(t["shuffle_write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts)}
        acc = per_lap.setdefault((m, op["lap"]), {})
        for k, v in row.items():
            acc[k] = acc.get(k, 0) + v
    for m in MODULES:
        laps = [v for (mm, _), v in per_lap.items() if mm == m]
        for k in ("build_ms", "exec_ms", "plan_ms", "jobs", "tasks",
                  "task_cpu_ms", "task_blocked_ms", "shuffle_bytes",
                  "spill_bytes"):
            name = f"{m}.{k}"
            if name in values and laps:
                values[name] = _median([lap[k] for lap in laps])

    setup = result.get("setup_s") or []
    values["sources.stage_ms"] = _median(setup) * 1000
    values["sources.input_bytes"] = sum(
        t["input"] for j in jobs if not str(j["span"]).startswith("setup")
        for t in tasks_by_job.get(j["job"], []))

    for lane in LANES:
        prog = [p for p in trace.get("progress", [])
                if p["lane"] == lane and p["rows"] > 0]
        js = jobs_by_span.get(f"lanes/{lane}", [])
        batches = {j["batch"] for j in js if j["batch"] is not None}
        values[f"streaming.{lane}.batches"] = len(prog)
        values[f"streaming.{lane}.add_batch_ms"] = _median(
            [p["add_batch_ms"] for p in prog])
        values[f"streaming.{lane}.overhead_ms"] = _median(
            [p["trigger_ms"] - p["add_batch_ms"] for p in prog])
        values[f"streaming.{lane}.jobs_per_batch"] = (
            sum(1 for j in js if j["batch"] is not None) / len(batches)
            if batches else 0.0)
        values[f"streaming.{lane}.task_cpu_ms"] = sum(
            t["cpu_ns"] for t in job_tasks(js)) / 1e6
    if "scan_state_rows_max" in result:
        values["streaming.scan.state_rows_max"] = result["scan_state_rows_max"]
        values["streaming.scan.state_bytes_max"] = \
            result["scan_state_bytes_max"]
        values["sinks.storage_files"] = result["storage_files"]
        values["text.store_files"] = result["store_files"]
        values["text.store_bytes"] = result["store_bytes"]
        values["bench.gen_late_max_ms"] = max(
            generator_lateness_ms(result["scan_schedule"]), default=0.0)
    return values
