"""Turns one run record written by the JVM into named metrics.

End-to-end metrics come from operations that ran with tracing off; the
per-layer metrics come from the spans and Spark work recorded while it was
on (in a traced run: the middle half of the window, or every second
bulk_log pipeline).
"""
from . import stats
from .spans import Tree

MB = 1e6

# The timed operation whose median is a workload's `result_p50_ms`.
RESULT = {
    "stream_pipeline": "e2e_ms",
    "bulk_log": "pipeline_ms",
    "fetch_serve": "fetch_ms",
}
WORKLOADS = tuple(RESULT)

# Gated in BENCHMARK.json: every workload reports each of them.
END_TO_END = {
    "setup_s": "s",
    "result_p50_ms": "ms",
}

# Per-layer metrics every workload's traced run yields.
PER_LAYER = {
    "log.append_ms": "ms",
    "log.append_jobs": "count",
    "sources.write_task_s": "s",
    "sources.segments_total": "count",
    "sources.segments_per_append": "count",
    "functions.codec_encode_mb_per_s": "MB/s",
    "functions.codec_decode_mb_per_s": "MB/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.driver_gap_ms": "ms",
    "spark.scheduler_delay_ms": "ms",
    "jvm.heap_used_max_mb": "MB",
    "trace.overhead_pct": "%",
}


def samples(raw, name, traced=False):
    flag = 1.0 if traced else 0.0
    return [v for v, t in raw["samples"].get(name, []) if t == flag]


def _mean(xs):
    return sum(xs) / len(xs) if xs else None


def end_to_end(raw):
    result = samples(raw, RESULT[raw["workload"]])
    if not result:
        raise ValueError("no untraced result samples")
    return {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "result_p50_ms": (stats.median(result), "ms"),
    }


def _latency_lines(prefix, xs, out):
    """`<prefix>_p50_ms` plus `<prefix>_p<N>_ms` for the tail the sample
    supports, with the sample count."""
    if not xs:
        return
    s = stats.latency_summary(xs)
    out[f"{prefix}_p50_ms"] = (s["p50"], "ms")
    if s["tail_pct"] is not None:
        out[f"{prefix}_p{s['tail_pct']}_ms"] = (s["tail"], "ms")
    out[f"{prefix}_samples"] = (s["n"], "count")


def workload_metrics(raw):
    """The workload's own metrics, named as the benchmark README lists
    them (from untraced operations)."""
    out = {}
    vals = raw["values"]
    name = raw["workload"]
    if name == "stream_pipeline":
        _latency_lines("stream_publish", samples(raw, "publish_ms"), out)
        _latency_lines("stream_e2e", samples(raw, "e2e_ms"), out)
        for k in ("streaming.generator_late_ms_max", "streaming.backlog_max_records"):
            out[k] = (vals[k], "ms" if k.endswith("_ms_max") else "count")
        out["backlog_growth_requests"] = (vals["backlog_growth_requests"], "count")
        out["saturated"] = (1 if vals["saturated"] else 0, "bool")
    elif name == "bulk_log":
        raw_mb = vals["raw_bytes"] / MB
        out["bulk_produce_mb_per_s"] = (raw_mb / (stats.median(samples(raw, "produce_ms")) / 1000), "MB/s")
        out["bulk_fetch_mb_per_s"] = (raw_mb / (stats.median(samples(raw, "fetch_ms")) / 1000), "MB/s")
        out["bulk_pipeline_s"] = (stats.median(samples(raw, "pipeline_ms")) / 1000, "s")
        for phase in ("wasm", "compact", "commit"):
            out[f"bulk_{phase}_s"] = (stats.median(samples(raw, f"{phase}_ms")) / 1000, "s")
        out["bulk_iterations"] = (len(samples(raw, "pipeline_ms")), "count")
    elif name == "fetch_serve":
        _latency_lines("fetch", samples(raw, "fetch_ms"), out)
        _latency_lines("append", samples(raw, "append_ms"), out)
    out["attempted"] = (raw["attempted"], "count")
    out["failed"] = (raw["failed"], "count")
    return out


def per_layer(raw):
    """Every per-layer metric the traced run supports, by name."""
    t = Tree(raw["spans"], raw["span_work"])
    vals = raw["values"]
    out = {}

    def med(xs):
        return stats.median(xs) if xs else None

    def put(name, value, unit):
        if value is not None:
            out[name] = (value, unit)

    appends = t.named("log.append")
    put("log.append_ms", med([t.duration(s) for s in appends]), "ms")
    put("log.append_jobs", _mean([t.work_of(s)["jobs"] for s in appends]), "count")
    writes = t.named("sources.graftlog_write")
    put("sources.write_task_s", med([t.work_of(s)["task_ms"] / 1000 for s in writes]), "s")
    put("sources.segments_total", vals.get("sources.segments_total"), "count")
    put("sources.segments_per_append", vals.get("sources.segments_per_append"), "count")
    for k in ("functions.codec_encode_mb_per_s", "functions.codec_decode_mb_per_s"):
        put(k, vals.get(k), "MB/s")

    reads = t.named("log.fetch") + t.named("log.fetch_all")
    firsts = [t.work_of(s)["first_job_ms"] - t.spans[s][4] for s in reads
              if t.work_of(s)["first_job_ms"] is not None]
    put("log.fetch_plan_ms", med(firsts), "ms")
    put("log.fetch_jobs_per_call", _mean([t.work_of(s)["jobs"] for s in reads]), "count")
    put("sources.read_task_s", med([t.work_of(s)["task_ms"] / 1000 for s in reads]), "s")
    put("sources.fetch_segments_kept_ratio",
        _mean(samples(raw, "fetch_kept_ratio", traced=True)), "ratio")

    compactions = t.named("log.compactWithTombstones")
    if compactions:
        cw = [t.work_of(s) for s in compactions]
        put("log.compact_s", med([t.duration(s) / 1000 for s in compactions]), "s")
        put("log.compact_shuffle_mb", _mean([w["shuffle_write_bytes"] / MB for w in cw]), "MB")
        put("log.compact_spill_mb", _mean([w["spill_bytes"] / MB for w in cw]), "MB")
        put("log.compact_out_in_ratio", vals.get("compact_out_in_ratio"), "ratio")

    if raw["workload"] == "bulk_log":
        wasm = t.named("wasm.WasmTransform")
        if wasm:
            secs = med([t.duration(s) / 1000 for s in wasm])
            put("wasm.transform_s", secs, "s")
            put("wasm.records_per_s", vals["records"] / secs, "1/s")
            put("wasm.task_s", med([t.work_of(s)["task_ms"] / 1000 for s in wasm]), "s")
            put("wasm.out_in_ratio", vals.get("wasm_out_in_ratio"), "ratio")

    commits = t.named("streaming.Datalake.commit")
    put("streaming.datalake_commit_ms", med([t.duration(s) for s in commits]), "ms")
    triggers = raw.get("triggers") or []
    if triggers:
        for phase in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            put(f"streaming.{phase}_ms",
                med([tr["duration_ms"].get(phase, 0) for tr in triggers]), "ms")
        put("streaming.rows_per_trigger", _mean([tr["rows"] for tr in triggers]), "count")
        jobs = raw.get("jobs_per_batch") or {}
        put("streaming.jobs_per_trigger",
            _mean([jobs.get(str(tr["batch_id"]), 0) for tr in triggers]), "count")
    for k in ("streaming.backlog_max_records", "streaming.generator_late_ms_max"):
        if k in vals:
            put(k, vals[k], "ms" if k.endswith("_ms_max") else "count")

    ops = [s for s in t.roots() if t.spans[s][3].startswith("op.")]
    if ops:
        ws = [t.work_of(s) for s in ops]
        put("spark.jobs", _mean([w["jobs"] for w in ws]), "count")
        put("spark.stages", _mean([w["stages"] for w in ws]), "count")
        put("spark.tasks", _mean([w["tasks"] for w in ws]), "count")
        put("spark.task_s", _mean([w["task_ms"] / 1000 for w in ws]), "s")
        put("spark.task_cpu_s", _mean([w["cpu_ns"] / 1e9 for w in ws]), "s")
        put("spark.gc_s", _mean([w["gc_ms"] / 1000 for w in ws]), "s")
        put("spark.shuffle_write_mb", _mean([w["shuffle_write_bytes"] / MB for w in ws]), "MB")
        put("spark.spill_mb", _mean([w["spill_bytes"] / MB for w in ws]), "MB")
        put("spark.driver_gap_ms", _mean([t.driver_gap(s) for s in ops]), "ms")
        put("spark.scheduler_delay_ms", _mean([w["sched_delay_ms"] for w in ws]), "ms")
    put("jvm.heap_used_max_mb", vals.get("jvm.heap_used_max_mb"), "MB")

    result = RESULT[raw["workload"]]
    on, off = samples(raw, result, traced=True), samples(raw, result)
    if on and off:
        put("trace.overhead_pct", 100 * (stats.median(on) - stats.median(off)) / stats.median(off), "%")
        put("trace.overhead_ms", stats.median(on) - stats.median(off), "ms")
    return out


def span_table(raw):
    """Per span name: count, median duration and self time, mean jobs,
    task seconds and driver gap per span."""
    t = Tree(raw["spans"], raw["span_work"])
    rows = {}
    for name in sorted({s[3] for s in t.spans.values()}):
        ids = t.named(name)
        ws = [t.work_of(s) for s in ids]
        rows[name] = {
            "count": len(ids),
            "p50_ms": stats.median([t.duration(s) for s in ids]),
            "self_p50_ms": stats.median([t.self_time(s) for s in ids]),
            "jobs": _mean([w["jobs"] for w in ws]),
            "task_s": _mean([w["task_ms"] / 1000 for w in ws]),
            "driver_gap_ms": _mean([t.driver_gap(s) for s in ids]),
        }
    return rows
