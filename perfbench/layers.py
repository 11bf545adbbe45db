"""Per-layer metrics of a traced run: span self times and Spark counters,
averaged over the measured ops (setup and warm-up spans are left out).

Every ``*_s`` time below is a self time (the span minus its children), so
the layer times of an op, plus ``op.self_s`` (benchmark glue between
layer calls), add up to the op's traced span; ``trace.gap_s`` is what the
runner's timer saw beyond that (the tracer's own bookkeeping).
"""

from __future__ import annotations

import spans as trace_spans

#: span name -> (self-time metric, job-count metric or None)
SPAN_METRICS = {
    "op": ("op.self_s", None),
    "rest": ("rest.s", None),
    "bronze.land": ("bronze.land_s", None),
    "watermark": ("watermark.s", None),
    "sources.list": ("sources.list_s", None),
    "sources.read_new_runs": ("sources.read_build_s", "sources.jobs"),
    "sources.read_parquet": ("sources.read_parquet_s", "sources.read_parquet_jobs"),
    "pipeline.run": ("pipeline.driver_s", "pipeline.jobs"),
    "pipeline.raw": ("pipeline.raw_s", None),
    "sinks.write.dim_media": ("sinks.write_s.dim_media", None),
    "sinks.write.dim_visitor": ("sinks.write_s.dim_visitor", None),
    "sinks.write.fact_engagement": ("sinks.write_s.fact_engagement", None),
    "sql.register": ("sql.register_s", None),
    "sql.analyze": ("sql.analyze_s", "sql.jobs"),
    "sql.execute": ("sql.execute_s", "sql.jobs"),
    "cache.release": ("cache.release_s", None),
}
#: span attribute -> metric
ATTR_METRICS = {"requests": "rest.requests", "retries": "rest.retries",
                "folders": "sources.folders"}
#: op counter -> metric
COUNTER_METRICS = {
    "execute_s": "execute.s", "jobs": "spark.jobs", "stages": "spark.stages",
    "tasks": "spark.tasks", "task_run_ms": "spark.task_run_ms",
    "task_cpu_ms": "spark.task_cpu_ms", "gc_ms": "spark.gc_ms",
    "shuffle_read_bytes": "spark.shuffle_read_bytes",
    "shuffle_write_bytes": "spark.shuffle_write_bytes", "spill_bytes": "spark.spill_bytes",
    "input_bytes": "spark.input_bytes", "output_bytes": "spark.output_bytes",
    "bytes_written": "sinks.bytes_written", "files_written": "sinks.files_written",
}


#: every per-layer metric and its unit, in the order BENCHMARK.json lists them
UNITS = {
    **{time_metric: "s" for time_metric, _ in SPAN_METRICS.values()},
    **{job_metric: "count" for _, job_metric in SPAN_METRICS.values() if job_metric},
    "pipeline.run_s": "s",
    "trace.gap_s": "s",
    **{metric: "count" for metric in ATTR_METRICS.values()},
    **{metric: "ms" if metric.endswith("_ms") else "s" if metric.endswith(".s")
       else "B" if "bytes" in metric else "count" for metric in COUNTER_METRICS.values()},
    "spark.task_busy_share": "ratio",
    "sources.read_amplification": "ratio",
}


def per_layer(spans: list[trace_spans.Span], ops: list[dict], cores: int) -> dict[str, tuple]:
    """``{metric: (per-op mean, unit)}`` over the ops listed in ``ops`` (the
    runner's per-op counters, each with its ``op`` id and ``wall_s``)."""
    totals = dict.fromkeys(UNITS, 0.0)
    measured = {o["op"] for o in ops}
    for s, self_s in zip(spans, trace_spans.self_times(spans)):
        if s.op not in measured or s.name not in SPAN_METRICS:
            continue
        time_metric, job_metric = SPAN_METRICS[s.name]
        totals[time_metric] += self_s
        if job_metric:
            totals[job_metric] += s.jobs
        if s.name == "pipeline.run":
            totals["pipeline.run_s"] += s.end - s.start
        if s.name == "op":
            totals["trace.gap_s"] -= s.end - s.start
        for attr, metric in ATTR_METRICS.items():
            totals[metric] += s.attrs.get(attr, 0)
    for o in ops:
        totals["trace.gap_s"] += o["wall_s"]
        for counter, metric in COUNTER_METRICS.items():
            totals[metric] += o.get(counter, 0)
    n = max(1, len(ops))
    out = {k: (v / n, UNITS[k]) for k, v in totals.items()}
    wall_ms = sum(o["wall_s"] for o in ops) * 1e3
    out["spark.task_busy_share"] = (totals["spark.task_run_ms"] / (wall_ms * cores), "ratio")
    bronze = sum(o.get("bronze_bytes", 0) for o in ops)
    out["sources.read_amplification"] = (
        totals["spark.input_bytes"] / bronze if bronze else 0.0, "ratio")
    return out
