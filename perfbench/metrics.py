"""Metric arithmetic of the benchmark: percentiles, ratios, call-site to
module attribution, and the end-to-end and per-layer metrics computed from
the raw document the JVM harness writes (see scala/Main.scala).

Pure functions only; perfbench/test_perfbench.py covers them.
"""
import re
import statistics

# graft's modules, by package under src/main/scala/graft/
MODULES = ("server", "streaming", "sources", "operators", "functions")
LAYERS = MODULES + ("spark",)

# the operation whose latency each workload reports, and what its
# throughput counts
PRIMARY = {"crunch_ingest": "ingest", "serve_mixed": "store"}

# end-to-end metrics, as listed in BENCHMARK.json: name -> unit
E2E_UNITS = {
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "setup_s": "s",
    "heap_live_mb": "MB",
}

# kind of set-up and warm-up operations: attempted, never timed
WARMUP = "warmup"
# op index layout of raw["ops"] rows
KIND, T0, T1, TRACED, OK, UNITS = range(6)
# raw["stages"] rows
(S_ID, S_SUBMIT, S_COMPLETE, S_FAILED, S_PLANNED, S_TASKS, S_FAILED_TASKS,
 S_EMPTY, S_TASK_MS, S_CPU_MS, S_GC_MS, S_WAIT_MS, S_IN_BYTES, S_SH_READ,
 S_SH_WRITE, S_OUT_BYTES, S_FRAMES, S_SPAN, S_KERNELS) = range(19)
# raw["streaming"] rows
P_OP, P_ADD_BATCH, P_PLANNING, P_WAL, P_OFFSETS, P_BATCHES = range(6)


def percentile(xs, p):
    """Linear-interpolated percentile p (0..100) of xs; NaN when empty."""
    s = sorted(xs)
    if not s:
        return float("nan")
    r = (len(s) - 1) * p / 100.0
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def supported_tail(n, candidates=(99, 95, 90, 75, 50)):
    """The highest percentile with at least ten samples beyond it, or None."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def ratio(num, den):
    """num / den, 0 when there is nothing to divide by."""
    return num / den if den else 0.0


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def module_of(call_site, span=""):
    """Module of a Spark stage. Spark takes a job's call site on the thread
    that runs the action, so a stage belongs to the innermost graft module
    frame there (innermost first in the long form). A call site with no
    such frame (the action ran in the benchmark's own code) falls back to
    the module whose public entry point the benchmark was calling, the
    prefix of its open span; anything else belongs to `spark`.

    `functions` never runs an action itself: its kernels execute inside
    other modules' stages, and `functions_stage` counts those."""
    for line in call_site.splitlines():
        m = re.match(r"\s*(?:at\s+)?graft\.([A-Za-z_]\w*)\.", line)
        if m and m.group(1) in MODULES:
            return m.group(1)
    prefix = span.split(".", 1)[0]
    return prefix if prefix in MODULES else "spark"


def functions_stage(stage):
    """Whether a stage's SQL execution runs a `graft.functions` kernel."""
    return bool(stage[S_KERNELS])


def uncovered_ms(t0, t1, intervals):
    """Length of [t0, t1] covered by none of the (start, end) intervals."""
    covered, cur = 0.0, t0
    for s, e in sorted(intervals):
        if e <= cur or s >= t1:
            continue
        s = max(s, cur)
        e = min(e, t1)
        if e > s:
            covered += e - s
            cur = e
    return (t1 - t0) - covered


def durations(ops, kind, traced=None):
    """Latencies of the successful operations of one kind."""
    return [o[T1] - o[T0] for o in ops
            if o[KIND] == kind and o[OK] and (traced is None or o[TRACED] == traced)]


def throughput(raw):
    """Work completed per second of the measured window: the units
    (participant rows for a drop, 1 for a request) of the successful
    measured operations that ended within it. Operations still running
    when the window closes count in latency, not here: the few that finish
    in the tail would otherwise stretch the time divided by."""
    t0, t1 = raw["window_ms"]
    work = sum(o[UNITS] for o in raw["ops"]
               if o[OK] and o[KIND] != WARMUP and o[T1] <= t1)
    return ratio(work, (t1 - t0) / 1000.0)


def attempted(raw):
    """Operations (set-up and warm-up ones included) plus final checks."""
    return len(raw["ops"]) + len(raw.get("checks", {}))


def end_to_end(raw):
    """The BENCHMARK.json end-to-end metrics of one untraced run."""
    values = {
        "latency_p50_ms": percentile(durations(raw["ops"], PRIMARY[raw["workload"]]), 50),
        "throughput_per_s": throughput(raw),
        "setup_s": statistics.median(raw["setup_reps_s"]),
        "heap_live_mb": raw["heap_live_mb"],
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def named(raw):
    """The workload's own metrics under their descriptive names, with
    sample counts: printed beside the JSON result, for people."""
    ops = raw["ops"]
    out = []

    def lat(name, kind, p):
        xs = durations(ops, kind)
        out.append((name, percentile(xs, p), "ms", len(xs)))

    def tail(prefix, kind):
        xs = durations(ops, kind)
        p = supported_tail(len(xs))
        if p is not None and p > 50:
            out.append(("%s_p%d_ms" % (prefix, p), percentile(xs, p), "ms", len(xs)))
        else:
            out.append(("%s_p90_ms" % prefix, percentile(xs, 90), "ms (under 100 samples)",
                        len(xs)))

    measured = sum(1 for o in ops if o[KIND] != WARMUP)
    if raw["workload"] == "crunch_ingest":
        out.append(("ingest_rows_per_s", throughput(raw), "1/s", measured))
        lat("ingest_lag_p50_ms", "ingest", 50)
        tail("ingest_lag", "ingest")
    else:
        out.append(("serve_req_per_s", throughput(raw), "1/s", measured))
        lat("serve_store_p50_ms", "store", 50)
        tail("serve_store", "store")
        lat("serve_query_p50_ms", "query", 50)
        lat("serve_write_p50_ms", "write", 50)
    out.append(("error_ratio", ratio(raw["failed"], attempted(raw)), "ratio", attempted(raw)))
    out.append(("setup_s", statistics.median(raw["setup_reps_s"]), "s",
                len(raw["setup_reps_s"])))
    out.append(("heap_live_mb", raw["heap_live_mb"], "MB", 1))
    out.append(("session_s", raw["session_s"], "s", 1))
    out.append(("gen_s", raw["gen_s"], "s", 1))
    out.append(("measure_s", raw["measure_s"], "s", 1))
    out.append(("probe_before_s", raw["probe_before_s"], "s", 1))
    out.append(("probe_after_s", raw["probe_after_s"], "s", 1))
    return out


def per_layer(raw):
    """The per-layer metrics of one traced run (all keys, 0 where a layer
    saw no work on this workload)."""
    ops = raw["ops"]
    traced_ops = [o for o in ops if o[TRACED]]
    n = len(traced_ops)
    spans = raw.get("spans", [])
    samples = raw.get("samples", {})
    scalars = raw.get("scalars", {})
    stages = raw.get("stages", [])
    jobs = raw.get("jobs", [])
    progress = raw.get("streaming", [])
    windows = raw.get("windows", [])
    cpus = raw["cpus"]

    def span_ms(name):
        return mean(s[3] - s[2] for s in spans if s[0] == name)

    def count_spans(prefix):
        return sum(1 for s in spans if s[0].startswith(prefix))

    def col(rows, i):
        return mean(r[i] for r in rows)

    m = {}
    # server: client-side time per route
    for route in ("store", "query", "write", "compact"):
        m["server.%s_ms" % route] = span_ms("server." + route)
    m["server.requests"] = count_spans("server.")
    m["server.overhead_ms"] = (m["server.store_ms"] - span_ms("sources.read")
                               if m["server.store_ms"] else 0.0)
    m["server.resp_bytes"] = mean(samples.get("server.resp_bytes", []))
    codes = samples.get("server.status", [])
    m["server.status_409"] = sum(1 for c in codes if c == 409)
    m["server.status_4xx"] = sum(1 for c in codes if 400 <= c < 500)
    m["server.status_5xx"] = sum(1 for c in codes if 500 <= c < 600)

    # streaming: the engine's own progress report per cycle
    m["streaming.cycle_ms"] = span_ms("streaming.cycle")
    m["streaming.add_batch_ms"] = col(progress, P_ADD_BATCH)
    m["streaming.engine_ms"] = (m["streaming.cycle_ms"] - m["streaming.add_batch_ms"]
                                if progress else 0.0)
    m["streaming.planning_ms"] = col(progress, P_PLANNING)
    m["streaming.wal_commit_ms"] = col(progress, P_WAL)
    m["streaming.offsets_ms"] = col(progress, P_OFFSETS)
    m["streaming.batches_per_cycle"] = col(progress, P_BATCHES)

    # sources
    m["sources.read_ms"] = span_ms("sources.read")
    m["sources.open_ms"] = span_ms("sources.open")
    m["sources.version_ms"] = span_ms("sources.version")
    m["sources.delta_width"] = mean(samples.get("sources.delta_width", []))
    m["sources.compactions"] = len(samples.get("sources.compactions", []))
    m["sources.compact_cycle_ms"] = mean(samples.get("sources.compact_cycle_ms", []))
    m["sources.write_amp"] = mean(samples.get("sources.write_amp", []))
    m["sources.store_bytes"] = scalars.get("sources.store_bytes", 0.0)
    m["sources.store_files"] = scalars.get("sources.store_files", 0.0)

    # operators
    m["operators.query_ms"] = span_ms("operators.query")

    # spark: engine counts, attributed to modules by call site
    tasks = sum(s[S_TASKS] for s in stages)
    m["spark.jobs_per_op"] = ratio(len(jobs), n)
    m["spark.stages_per_op"] = ratio(len(stages), n)
    m["spark.tasks_per_op"] = ratio(tasks, n)
    by_module = {layer: [] for layer in LAYERS}
    for s in stages:
        by_module[module_of(s[S_FRAMES], s[S_SPAN])].append(s)
    # functions: the stages that run its kernels, whichever module's they are
    by_module["functions"] = [s for s in stages if functions_stage(s)]
    for layer in LAYERS:
        m["spark.%s.stages_per_op" % layer] = ratio(len(by_module[layer]), n)
        m["spark.%s.task_ms_per_op" % layer] = ratio(
            sum(s[S_TASK_MS] for s in by_module[layer]), n)
    m["spark.empty_task_ratio"] = ratio(sum(s[S_EMPTY] for s in stages), tasks)
    m["spark.task_wait_ms"] = ratio(sum(s[S_WAIT_MS] for s in stages), tasks)
    job_iv = [(j[1], j[2]) for j in jobs if j[2] is not None]
    m["spark.driver_gap_ms_per_op"] = mean(uncovered_ms(o[T0], o[T1], job_iv)
                                           for o in traced_ops)
    wall = sum(w[1] - w[0] for w in windows)
    m["spark.cpu_util"] = ratio(sum(w[3] for w in windows), wall * cpus)
    m["spark.gc_ms_per_op"] = ratio(sum(w[2] for w in windows), n)
    m["spark.shuffle_bytes_per_op"] = ratio(sum(s[S_SH_WRITE] for s in stages), n)
    m["spark.input_bytes_per_op"] = ratio(sum(s[S_IN_BYTES] for s in stages), n)
    m["spark.output_bytes_per_op"] = ratio(sum(s[S_OUT_BYTES] for s in stages), n)
    m["spark.failed_tasks"] = sum(s[S_FAILED_TASKS] for s in stages)

    # tracing overhead: traced minus untraced latency of the primary op
    primary = PRIMARY[raw["workload"]]
    on = durations(ops, primary, traced=1)
    off = durations(ops, primary, traced=0)
    m["trace.overhead_ms"] = (percentile(on, 50) - percentile(off, 50)
                              if on and off else 0.0)
    m["trace.ops"] = n
    return m


def layer_unit(name):
    if name.endswith("_ms") or name.endswith("_ms_per_op"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio") or name.endswith("util") or name.endswith("write_amp"):
        return "ratio"
    return "count"
