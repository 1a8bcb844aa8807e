"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload market_queries --seed 1 \
        --seconds 20 --trace 0

Builds the engine and the harness (perfbench/build.py), generates the
inputs (perfbench/gen.py), runs the harness in one JVM with Spark at
local[n], checks every output, and prints two lines: a report with every
named metric and its validity stamps, then the result line
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). README.md in this
directory describes the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("market_queries", "corpus_queries", "lanes")
JVM_TIMEOUT_S = 160
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def load_expected():
    path = os.path.join(HERE, "expected.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def data_dir(cfg):
    """The fixture tables, generated once per checkout and scale."""
    d = os.path.join(HERE, ".data", f'sf{cfg["scale"]}-seed{cfg["data_seed"]}')
    if not os.path.exists(os.path.join(d, "ok")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_tables(d, cfg["scale"], cfg["data_seed"])
        open(os.path.join(d, "ok"), "w").close()
    return d


def module_map(cfg, workload):
    return {q: m for m, qs in cfg[workload]["modules"].items() for q in qs}


def lane_sizes(cfg, seconds):
    """Lane input sizes. The open-loop scan lasts a fixed share of the run,
    after one warm-up slice that is on no schedule."""
    lc = dict(cfg["lanes"])
    lc["scan_slices"] = 1 + max(4, round(lc["scan_share"] * seconds * 1000 /
                                         lc["scan_period_ms"]))
    lc["scan_rows"] = lc["scan_slices"] * lc["scan_rows_per_slice"]
    return lc


def run_jvm(classpath, cfg, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed-size heap and the throughput collector: the heap is touched
    # early and whole, so the resident set and GC pauses are the same from
    # run to run. A high first metaspace threshold: each growth step of the
    # classes Spark generates would otherwise stop the JVM for a full GC
    # (up to 160 ms, enough to make the scan generator late). No perf-data
    # file: it would be written outside `work`.
    cmd += [f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}", "-XX:+UseParallelGC",
            "-XX:MetaspaceSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-cp", os.pathsep.join(classpath), "perfbench.PerfBench"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: stopped, harness killed")
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM,
                                                     signal.SIGINT)}
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            for sig, h in old.items():
                signal.signal(sig, h)
    if code != 0:
        with open(log_path, errors="replace") as f:
            lines = f.read().splitlines()
        first = next((i for i, x in enumerate(lines) if "Exception" in x), 0)
        raise RuntimeError(f"harness exited with {code}:\n" +
                           "\n".join(lines[first:first + 12]))
    with open(args["out"]) as f:
        return json.load(f)


def evaluate_queries(res, expected):
    ops = res["ops"]
    bad = metrics.check_ops(ops, expected.get("queries", {}))
    report = metrics.query_summary(ops)
    report["executions"] = len(ops)
    e2e = {"work_s": report["lap_s"],
           "latency_ms": report["latency_geomean_ms"]}
    return e2e, report, len(ops), bad


def evaluate_lanes(res, expected, lc):
    bad = []
    rows = (res["staged_rows"], res["trading_rows"], res["stored_rows"])
    if len(set(rows)) != 1:
        bad.append(f"ingest: staged/trading/stored rows {rows}")
    if not (res["scan_match"] and res["scan_stream_opps"] > 0 and
            res["scan_consumed_rows"] == res["scan_rows"]):
        bad.append("scan: streamed opportunities {} vs batch join {} "
                   "(consumed {} of {} rows)".format(
                       res["scan_stream_opps"], res["scan_batch_opps"],
                       res["scan_consumed_rows"], res["scan_rows"]))
    admitted = metrics.id_set_fingerprint(res["admitted"])
    if admitted != expected.get("curation_admitted"):
        bad.append(f"curation: admitted {admitted['count']} docs, "
                   "not the expected set")
    first_ts = [gen.EPOCH_2024 + int(b) * gen.SCAN_STEP_US
                for b in gen.slice_bounds(res["scan_rows"],
                                          lc["scan_slices"])[:-1]]
    lat = metrics.due_latencies_ms(res["scan_schedule"], res["scan_sink"],
                                   first_ts)
    late = max(metrics.generator_lateness_ms(res["scan_schedule"]),
               default=0.0)
    valid = late <= lc["gen_late_limit_ms"]
    if not valid:
        # timed from a schedule the generator did not keep: not a latency
        bad.append(f"scan: generator {late:.0f} ms late")
    p50 = metrics.percentile(lat, 0.5)
    batch_ms = res["curation_batch_ms"]
    e2e = {"work_s": res["ingest_s"] + res["curation_s"], "latency_ms": p50}
    report = {
        "ingest_rows_per_s": res["staged_rows"] / res["ingest_s"],
        "opp_latency_p50_ms": p50 if valid else None,
        "opp_latency_p95_ms":
            metrics.percentile(lat, 0.95) if valid else None,
        "opp_latency_valid": valid, "opportunities": len(lat),
        "opp_latency_growth_ms": metrics.latency_growth_ms(
            res["scan_schedule"], res["scan_sink"], first_ts),
        "scan_offered_rows_per_s": lc["scan_rows_per_slice"] * 1000 /
            lc["scan_period_ms"] if lc["scan_period_ms"] else None,
        # capacity only when every slice was released at once (--scan-burst);
        # in open loop the lane drains what arrives
        "scan_drain_rows_per_s": None if lc["scan_period_ms"] else
            metrics.drain_rows_per_s(res["scan_batches"]),
        "scan_batches": len(res["scan_batches"]),
        "scan_batch_rows_max": max((r for r, _ in res["scan_batches"]),
                                   default=None),
        "curation_docs_per_s": res["curation_docs"] / res["curation_s"],
        "curation_batch_p50_ms": metrics.percentile(batch_ms, 0.5),
        "curation_batch_mean_ms":
            sum(batch_ms) / len(batch_ms) if batch_ms else None,
        "curation_batches": len(batch_ms),
        "curation_admitted": admitted["count"],
        "gen_late_max_ms": late}
    return e2e, report, 3, bad


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the run's output fingerprints to "
                         "expected.json instead of checking them")
    ap.add_argument("--scan-burst", action="store_true",
                    help="lanes: release every scan slice at once, to "
                         "measure the scan lane's drain capacity")
    a = ap.parse_args(argv)
    cfg = load_config()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    data = data_dir(cfg)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        hargs = {"workload": a.workload, "data": data, "work": work,
                 "out": os.path.join(work, "result.json"),
                 "cores": min(cfg["cores"], os.cpu_count() or 1),
                 "trace": a.trace, "setup_reps": cfg["setup_reps"]}
        lc = None
        if a.workload == "lanes":
            lc = lane_sizes(cfg, a.seconds)
            if a.scan_burst:
                lc["scan_period_ms"] = 0
            lanes = os.path.join(work, "lanes")
            facts = gen.lane_inputs(data, lanes, a.seed, lc)
            hargs.update(lanes=lanes, ingest_rows=facts["ingest_rows"],
                         scan_rows=facts["scan_rows"],
                         curation_docs=facts["curation_docs"],
                         **{k: lc[k] for k in (
                             "ingest_per_trigger", "scan_period_ms",
                             "curation_per_trigger")})
        else:
            wc = cfg[a.workload]
            hargs["queries"] = ",".join(module_map(cfg, a.workload))
            hargs["laps"] = max(3, round(a.seconds / wc["nominal_lap_s"]))
        load0 = loadavg()
        res = run_jvm(classpath, cfg, work, hargs)
        load1 = loadavg()
        if a.trace:
            # keep the spans and listener events of a traced run
            shutil.copy(hargs["out"], os.path.join(
                HERE, ".work", f"trace-{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = load_expected()
    if a.record:
        record(a.workload, res, expected)
        return 0
    if a.workload == "lanes":
        e2e, report, attempted, bad = evaluate_lanes(res, expected, lc)
    else:
        e2e, report, attempted, bad = evaluate_queries(res, expected)
    e2e.update(setup_s=statistics.median(res["setup_s"]),
               cpu_s=res["cpu_s"], peak_rss_mb=res["peak_rss_kb"] / 1024)
    report.update({k: e2e[k] for k in e2e}, error_rate=len(bad) / attempted,
                  failures=bad[:20], seed=a.seed, workload=a.workload,
                  nproc=os.cpu_count(), master=res["master"],
                  heap_max_mb=res["heap_max_mb"], loadavg_before=load0,
                  loadavg_after=load1, session_s=res["session_s"],
                  measure_s=res["measure_s"], traced=bool(a.trace),
                  staged_in_measure=res["staged_in_measure"])
    print(json.dumps({"report": report}))
    if a.trace:
        values = metrics.per_layer(res, {} if a.workload == "lanes"
                                   else module_map(cfg, a.workload))
        out = {n: {"value": values[n], "unit": u}
               for n, u in metrics.per_layer_names()}
    else:
        out = {n: {"value": e2e[n], "unit": u} for n, u in metrics.END_TO_END}
    ok = not bad and all(v["value"] is not None for v in out.values())
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": len(bad), "metrics": out}))
    return 0


def record(workload, res, expected):
    """Stores the fingerprints of a clean run as the expected outputs."""
    if workload == "lanes":
        expected["curation_admitted"] = metrics.id_set_fingerprint(
            res["admitted"])
    else:
        failed = [op["query"] for op in res["ops"] if not op.get("ok")]
        if failed:
            raise SystemExit(f"not recording: {failed} failed")
        seen = {}
        for op in res["ops"]:
            key = metrics.output_key(op)
            if seen.setdefault(op["query"], key) != key:
                raise SystemExit(f'{op["query"]}: output differs between '
                                 "executions; not recording")
        expected.setdefault("queries", {}).update(seen)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
