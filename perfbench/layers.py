"""Per-layer probes of the job-history layers.

Each probe forces one layer's output with the ``noop`` writer inside its own
span; a layer's self time is that span's duration minus the durations of
the spans that forced its inputs (``Tracer.self_time``). Every span carries
an ``input`` tag naming the logs it read, so one run can probe several
inputs and add up their self times. A sink's self time is measured on its
input cached in memory: the input is forced once to fill the cache, then
forced again with ``noop`` and handed to the sink back to back, and the
difference of those two neighbouring spans is the sink's own work.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from common import counted, force
from hadoop_jobanalyzer_spark.functions.counters import parse_counters
from hadoop_jobanalyzer_spark.operators.timeline import timeline, timeline_intervals
from hadoop_jobanalyzer_spark.sources.job_history import (
    HistoryViews,
    attempts_view,
    final_attempts,
    jobs_view,
    parse_records,
    read_raw_records,
    tasks_view,
)

# layer -> the layers whose forcing its self time subtracts
SOURCE_INPUTS = {
    "sources.read_raw_records": (),
    "sources.parse_records": ("sources.read_raw_records",),
    "sources.jobs_view": ("sources.parse_records",),
    "sources.tasks_view": ("sources.parse_records",),
    "sources.attempts_view": ("sources.parse_records",),
    "sources.final_attempts": ("sources.attempts_view",),
    "functions.parse_counters": ("functions.counters_attr",),
}
REPORT_INPUTS = {
    "job_summary": ("jobs", "tasks", "attempts"),
    "map_table": ("tasks", "attempts"),
    "reduce_table": ("tasks", "attempts"),
    "reduce_bytes_table": ("jobs", "tasks", "attempts"),
    "error_summary": ("attempts",),
    "wasted_summary": ("attempts",),
    "fleet_summary": ("jobs", "tasks", "attempts"),
}


def _size(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def sink_self_time(tr, span: str, df, sink, **attrs) -> float:
    """The self time of ``sink(df)``, in span ``span``, over ``df`` cached
    in memory (see the module's docstring)."""
    df.cache()
    try:
        force(df)
        with tr.span(f"{span}.input", **attrs) as forced:
            force(df)
        with tr.span(span, **attrs) as done:
            sink(df)
    finally:
        df.unpersist()
    return (done["end"] - done["start"]) - (forced["end"] - forced["start"])


def _force_then_write(tr, span: str, df, tag: str, sink, name: str) -> tuple[int, float]:
    """Force ``df`` in ``span``, then, when there is a ``sink``, time
    writing the same frame with it; return (rows, the write's self time)."""
    n = counted(tr, span, df, input=tag)
    if sink is None:
        return n, 0.0
    return n, sink_self_time(tr, "sinks.write_delimited", df, lambda d: sink(name, d),
                             input=tag, report=name)


def probe_sources(ctx, path: str, tag: str):
    """Force every ingest layer over ``path``; return (metrics, views)."""
    tr = ctx.tracer
    records = read_raw_records(ctx.spark, path)
    n_records = counted(tr, "sources.read_raw_records", records, input=tag)
    parsed = parse_records(records)
    counted(tr, "sources.parse_records", parsed, input=tag)
    views = HistoryViews(parsed, jobs_view(parsed), tasks_view(parsed), attempts_view(parsed))
    counted(tr, "sources.jobs_view", views.jobs, input=tag)
    counted(tr, "sources.tasks_view", views.tasks, input=tag)
    counted(tr, "sources.attempts_view", views.attempts, input=tag)
    counted(tr, "sources.final_attempts", final_attempts(views.attempts), input=tag)
    # parse_counters runs after a shuffle, as in the views' merges; in the
    # same stage as the record split it exhausts a 1 GiB heap on one log
    raw = (parsed.select(F.col("attrs")["COUNTERS"].alias("c"))
           .filter(F.col("c").isNotNull()).repartition(ctx.spark.sparkContext.defaultParallelism))
    counted(tr, "functions.counters_attr", raw, input=tag)
    counted(tr, "functions.parse_counters", raw.select(parse_counters("c")), input=tag)
    out = {f"{k}_s": tr.self_time(k, v, input=tag) for k, v in SOURCE_INPUTS.items()}
    out["sources.records"] = n_records
    out["sources.bytes_in"] = _size(path)
    return out, views


def probe_reports(ctx, frames: dict, tag: str, sink=None) -> dict:
    """Force each history report (``frames``: report name -> its frame over
    the views ``probe_sources`` forced under ``tag``), writing each with
    ``sink(name, frame)`` right after."""
    tr = ctx.tracer
    view_span = {"jobs": "sources.jobs_view", "tasks": "sources.tasks_view",
                 "attempts": "sources.attempts_view"}
    out = {"sinks.write_delimited_s": 0.0}
    stages = 0
    for name, inputs in REPORT_INPUTS.items():
        span = f"history_reports.{name}"
        _, write = _force_then_write(tr, span, frames[name], tag, sink, name)
        out["sinks.write_delimited_s"] += write
        out[f"{span}_s"] = tr.self_time(span, tuple(view_span[i] for i in inputs), input=tag)
        stages += tr.total(span, "spark_stages", input=tag)
    out["history_reports.spark_stages"] = stages
    return out


def probe_timeline(ctx, views, scale: int, tag: str, columns=None, sink=None):
    """Force the timeline's intervals and the timeline itself (narrowed to
    ``columns``, and written with ``sink`` right after, when given); return
    (metrics, the whole timeline frame)."""
    tr = ctx.tracer
    n_iv = counted(tr, "timeline.timeline_intervals", timeline_intervals(views, scale), input=tag)
    tl = timeline(views, scale=scale)
    frame = tl.select(*columns) if columns else tl
    n_spine, write = _force_then_write(tr, "timeline.timeline", frame, tag, sink, "timeline")
    return {
        "timeline.timeline_intervals_s": tr.self_time(
            "timeline.timeline_intervals", ("sources.jobs_view", "sources.final_attempts"),
            input=tag),
        "timeline.timeline_s": tr.self_time(
            "timeline.timeline", ("timeline.timeline_intervals",), input=tag),
        "timeline.interval_rows": n_iv,
        "timeline.spine_rows": n_spine,
        "timeline.spark_stages": tr.total("timeline.timeline", "spark_stages", input=tag),
        "sinks.write_delimited_s": write,
    }, tl
