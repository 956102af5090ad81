"""Turns the harness's raw observations into the benchmark's metrics.

End-to-end metrics come from untraced passes, per-layer metrics from
traced ones. Every metric is emitted for every workload; a layer a
workload never calls reads 0 there, which is the measured fact.
"""
import re
import statistics

# (name, unit) of the end-to-end metrics
END_TO_END = [
    ("setup_s", "s"),
    ("session_s", "s"),
    ("live_heap_peak_mb", "MB"),
]

MODULES = ["sources", "ddl", "streaming", "operators", "queries", "types",
           "functions"]
PHASES = ["snapshot", "stream", "final_scan", "lookup", "compact", "session"]
COUNTERS = [
    ("jobs", "count"), ("tasks", "count"), ("task_ms", "ms"),
    ("task_cpu_ms", "ms"), ("gc_ms", "ms"),
    ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
    ("spill_bytes", "B"), ("input_bytes", "B"), ("driver_only_ms", "ms"),
    ("core_busy_ratio", "ratio"), ("task_skew", "ratio"),
]
QUERY_FAMILIES = ["dedup", "similarity", "retrieval", "image", "audio",
                  "video"]

# Per-layer metrics, grouped by the end-to-end metric each should move:
# sources.* and the snapshot counters -> replicate session_s, and setup_s
# (spool production is set-up); streaming.*, ddl.* and the stream counters
# -> replicate session_s through the stream phase; operators.* -> replicate
# session_s (FINAL, lookup, OPTIMIZE phases) and live_heap_peak_mb;
# queries.*, spark.plan_* and the session counters -> corpus_session
# session_s; queries.cached_bytes_* and spark.gc_ms.* -> live_heap_peak_mb.
# The replicate headline rates and the latency medians live here, since an
# end-to-end metric must have a steady value on every workload.
PER_LAYER = [
    ("sources.snapshot_ms", "ms"),
    ("sources.bulk_rows_per_sec", "rows/s"),
    ("sources.produce_events_per_sec", "events/s"),
    ("sources.spool_files", "count"),
    ("streaming.events_per_sec", "events/s"),
    ("streaming.batches", "count"),
    ("streaming.batch_p50_ms", "ms"),
    ("streaming.batch_tail_ms", "ms"),
    ("streaming.batch_tail_pct", "%"),
    ("streaming.batch_tail_n", "count"),
    ("streaming.add_batch_ms_sum", "ms"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.bookkeeping_ms", "ms"),
    ("streaming.jobs_per_batch", "count"),
    ("streaming.pipeline_stage_ms", "ms"),
    ("ddl.statements", "count"),
    ("operators.table_write_ms", "ms"),
    ("operators.rows_written_per_event", "ratio"),
    ("operators.data_files", "count"),
    ("operators.final_scan_ms", "ms"),
    ("operators.final_rows_per_sec", "rows/s"),
    ("operators.lookup_p50_ms", "ms"),
    ("operators.lookup_tail_ms", "ms"),
    ("operators.lookup_tail_pct", "%"),
    ("operators.lookup_tail_n", "count"),
    ("operators.lookup_rows_scanned", "rows"),
    ("operators.compact_rows_per_sec", "rows/s"),
    ("operators.compact_bytes_written", "B"),
    ("operators.stored_bytes_per_row", "B/row"),
    ("queries.query_p50_ms", "ms"),
    ("queries.build_ms", "ms"),
    ("queries.exec_ms", "ms"),
] + [(f"queries.{f}_s", "s") for f in QUERY_FAMILIES] + [
    ("queries.cached_bytes_peak", "B"),
    ("queries.cached_bytes_after_clear", "B"),
    ("spark.plan_ms.session", "ms"),
    ("spark.plan_nodes.session", "count"),
] + [(f"{m}.stage_ms", "ms") for m in MODULES + ["spark"]] + [
    (f"spark.{c}.{p}", u) for c, u in COUNTERS for p in PHASES
] + [
    ("trace.overhead_ratio", "ratio"),
    ("scaling.single_core_ratio", "ratio"),
]


def tail(values, beyond=10):
    """Highest percentile of ``values`` with at least ``beyond`` samples
    above it: the value at sorted index n-1-beyond. Returns (value,
    percentile, n), or None when there are too few samples."""
    n = len(values)
    if n <= beyond:
        return None
    s = sorted(values)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def module_of(frame):
    """Engine module a stage belongs to, from the first ``graft.*`` frame
    of its call site: ``graft.<module>.<Class>.<method>(...)``. Stages
    with no engine frame, or launched from the engine's root package,
    belong to ``spark``."""
    parts = frame.split("(")[0].split(".")
    if len(parts) >= 4 and parts[0] == "graft" and parts[1] in MODULES:
        return parts[1]
    return "spark"


TABLE_WRITE = re.compile(r"GraftTable\.(append|appendStaged|delete|"
                         r"writeBatch|publishStagedLoad)\b")


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(obs):
    """The end-to-end metrics of an untraced run."""
    cycles = obs["cycles"]
    return {
        "setup_s": obs["setup_s"],
        "session_s": _med([c["wall_s"] for c in cycles]),
        "live_heap_peak_mb": _med([max(c["heap_mb"]) for c in cycles]),
    }


def _union_ms(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def phase_counters(trace, windows, cores):
    """spark.<counter>.<phase> from the listener's jobs, stages and tasks,
    each attributed to the phase window it started in. ``windows``: phase
    -> [(start_ms, end_ms)] over the traced passes; values are per pass
    (summed over windows, divided by the number of passes)."""
    def phase_at(t):
        for p, ws in windows.items():
            for s, e in ws:
                if s <= t <= e:
                    return p
        return None

    out = {}
    by_stage = {}
    for t in trace["tasks"]:
        by_stage.setdefault(t["stage"], []).append(t)
    for p, ws in windows.items():
        npass = max(1, len(ws))
        wall = sum(e - s for s, e in ws)
        tasks = [t for t in trace["tasks"] if phase_at(t["launch"]) == p]
        jobs = [j for j in trace["jobs"] if phase_at(j) == p]
        busy = sum(_union_ms([(max(t["launch"], s), min(t["finish"], e))
                              for t in tasks if t["finish"] > s
                              and t["launch"] < e]) for s, e in ws)
        task_ms = sum(t["finish"] - t["launch"] for t in tasks)
        skew = 0.0
        for st in {t["stage"] for t in tasks}:
            d = [t["finish"] - t["launch"] for t in by_stage[st]]
            if len(d) >= 2 and statistics.median(d) > 0:
                skew = max(skew, max(d) / statistics.median(d))
        vals = {
            "jobs": len(jobs), "tasks": len(tasks), "task_ms": task_ms,
            "task_cpu_ms": sum(t["cpu_ms"] for t in tasks),
            "gc_ms": sum(t["gc_ms"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
            "spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "input_bytes": sum(t["input_bytes"] for t in tasks),
            "driver_only_ms": wall - busy,
        }
        for c, v in vals.items():
            out[f"spark.{c}.{p}"] = v / npass
        out[f"spark.core_busy_ratio.{p}"] = (
            task_ms / (wall * cores) if wall else 0.0)
        out[f"spark.task_skew.{p}"] = skew
    return out


def per_layer(obs):
    """The per-layer metrics of a traced run."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    cycles = obs["cycles"]
    traced = [c for c in cycles if c["traced"]]
    plain = [c for c in cycles if not c["traced"]] or cycles
    trace = obs["trace"]
    tix = {i for i, c in enumerate(cycles) if c["traced"]}
    spans = [s for s in trace["spans"] if s["cycle"] in tix]
    windows = {}
    for s in spans:
        if s["name"].startswith("phase:"):
            windows.setdefault(s["name"][6:], []).append((s["start"], s["end"]))
    m.update(phase_counters(trace, windows, obs["cpus"]))
    npass = max(1, len(traced))

    # stage wall attributed to modules, and to named engine calls
    stages = [st for st in trace["stages"]
              if any(s <= st["submitted"] <= e
                     for ws in windows.values() for s, e in ws)]
    for st in stages:
        ms = st["completed"] - st["submitted"]
        m[f"{module_of(st['frame'])}.stage_ms"] += ms / npass
        if TABLE_WRITE.search(st["frame"]):
            m["operators.table_write_ms"] += ms / npass
        if (module_of(st["frame"]) == "streaming" and
                any(s <= st["submitted"] <= e
                    for s, e in windows.get("stream", []))):
            m["streaming.pipeline_stage_ms"] += ms / npass

    def span_ms(prefix):
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"].startswith(prefix)) / npass

    if obs["workload"] == "replicate":
        batches = [b for c in traced for b in c["batches"]]
        lookups = [x for c in traced for x in c["lookup_ms"]]
        med = lambda k: _med([c[k] for c in traced])
        m["sources.snapshot_ms"] = span_ms("sources.Replicator.start")
        m["sources.bulk_rows_per_sec"] = med("snapshot_rows") / med("snapshot_s")
        m["sources.produce_events_per_sec"] = med("produce_events_per_sec")
        m["sources.spool_files"] = med("spool_files")
        m["streaming.events_per_sec"] = med("events") / med("stream_s")
        m["streaming.batches"] = len(batches) / npass
        m["streaming.batch_p50_ms"] = _med([b["trigger_ms"] for b in batches])
        # tails pool every pass of the run; 0 when too few samples
        for name, xs in (
                ("streaming.batch", [b["trigger_ms"] for c in cycles
                                     for b in c["batches"]]),
                ("operators.lookup", [x for c in cycles
                                      for x in c["lookup_ms"]])):
            t = tail(xs)
            if t:
                m[f"{name}_tail_ms"], m[f"{name}_tail_pct"] = t[0], t[1]
            m[f"{name}_tail_n"] = len(xs)
        m["streaming.add_batch_ms_sum"] = sum(
            b["add_batch_ms"] for b in batches) / npass
        m["streaming.add_batch_ms_p50"] = _med(
            [b["add_batch_ms"] for b in batches])
        m["streaming.bookkeeping_ms"] = sum(
            b["trigger_ms"] - b["add_batch_ms"] for b in batches) / npass
        m["streaming.jobs_per_batch"] = (
            m["spark.jobs.stream"] * npass / len(batches) if batches else 0.0)
        m["ddl.statements"] = med("ddl_statements")
        out_rows = sum(t["output_records"] for t in trace["tasks"]
                       if any(s <= t["launch"] <= e
                              for s, e in windows.get("stream", [])))
        m["operators.rows_written_per_event"] = (
            out_rows / npass / med("events"))
        m["operators.data_files"] = med("data_files")
        m["operators.final_scan_ms"] = 1000 * med("final_s")
        m["operators.final_rows_per_sec"] = med("final_rows") / med("final_s")
        m["operators.lookup_p50_ms"] = _med(lookups)
        in_rows = sum(t["input_records"] for t in trace["tasks"]
                      if any(s <= t["launch"] <= e
                             for s, e in windows.get("lookup", [])))
        m["operators.lookup_rows_scanned"] = in_rows / max(1, len(lookups))
        m["operators.compact_rows_per_sec"] = (
            med("final_rows") / med("compact_s"))
        m["operators.compact_bytes_written"] = med("compact_bytes")
        m["operators.stored_bytes_per_row"] = (
            med("stored_bytes") / med("final_rows"))
    else:
        qs = [q for c in traced for q in c["queries"]]
        m["queries.query_p50_ms"] = _med([q["ms"] for q in qs])
        m["queries.build_ms"] = sum(q["build_ms"] for q in qs) / npass
        m["queries.exec_ms"] = sum(q["exec_ms"] for q in qs) / npass
        for f in QUERY_FAMILIES:
            m[f"queries.{f}_s"] = sum(
                q["ms"] for q in qs if q["family"] == f) / npass / 1000
        m["queries.cached_bytes_peak"] = max(
            c["cached_bytes_peak"] for c in traced)
        m["queries.cached_bytes_after_clear"] = max(
            c["cached_bytes_after_clear"] for c in traced)
        m["spark.plan_ms.session"] = sum(q["plan_ms"] for q in qs) / npass
        m["spark.plan_nodes.session"] = sum(
            q["plan_nodes"] for q in qs) / npass

    m["trace.overhead_ratio"] = (_med([c["wall_s"] for c in traced]) /
                                 _med([c["wall_s"] for c in plain]))
    if obs.get("single_core"):
        m["scaling.single_core_ratio"] = (obs["single_core"]["wall_s"] /
                                          _med([c["wall_s"] for c in plain]))
    return m
