"""fleet_reports: every CLI report over a directory of generated job logs.

A pass loads the directory once with ``sources.load_history``, writes each
report of ``-s -m -r --reduce-bytes --errors --wasted --fleet -t`` with
``sinks.write_delimited`` (the CLI's columns, delimiter and scale), and then
POSTs one long fixture-shaped log to the webapp for its timeline and map
Gantt charts (``charts``). The written files are checked against the
generator's model, the charts as ``charts`` describes.
"""

from __future__ import annotations

import glob
import os
import random

import charts
import layers
import loggen
from common import Op
from hadoop_jobanalyzer_spark import __main__ as cli
from hadoop_jobanalyzer_spark.operators import (
    error_summary,
    fleet_summary,
    job_summary,
    map_table,
    reduce_bytes_table,
    reduce_table,
    timeline,
    wasted_summary,
)
from hadoop_jobanalyzer_spark.sinks import write_delimited
from hadoop_jobanalyzer_spark.sources import load_history
from hadoop_jobanalyzer_spark.webapp import CGI_SCALE

N_JOBS = 12
SCALE = 1000  # the CLI's default timestamp divisor
DELIM = ", "  # the CLI's default delimiter


def shapes() -> list[loggen.JobShape]:
    """The corpus's job shapes: fixed, so every seed ingests the same amount
    of work; the seed varies each job's timings, failures and counters."""
    rng = random.Random(0)
    return [
        loggen.JobShape(
            n_maps=rng.randint(40, 80),
            n_reduces=rng.randint(8, 20),
            duration_ms=rng.randint(10, 40) * 60_000,
            fail_rate=rng.uniform(0.08, 0.2),
            spec_rate=rng.uniform(0.03, 0.1),
            n_traces=rng.randint(0, 2),
            unterminated=i % 8 == 3,
        )
        for i in range(N_JOBS)
    ]


def prepare(seed: int, work: str, record: dict) -> dict:
    d = os.path.join(work, "fleet")
    os.makedirs(d)
    models, n_bytes = [], 0
    for i, shape in enumerate(shapes()):
        text, model = loggen.make_job(seed, i, shape)
        with open(os.path.join(d, f"job_{i:04d}.txt"), "w") as f:
            f.write(text)
        n_bytes += len(text.encode())
        models.append(model)
    record["input"] = {
        "files": N_JOBS,
        "bytes": n_bytes,
        "records": sum(m.n_records for m in models),
        "attempts": sum(sum(m.attempts.values()) for m in models),
    }
    state = charts.prepare(seed, work)
    record["input"]["chart_log"] = state.pop("chart_input")
    state["models"] = models
    return state


def _reports() -> dict:
    """Each CLI report: name -> (its frame over the views, the CLI's columns)."""
    return {
        "job_summary": (lambda v: job_summary(v, scale=SCALE), cli.SUMMARY_COLS),
        "map_table": (lambda v: map_table(v, scale=SCALE), cli.MAP_COLS),
        "reduce_table": (lambda v: reduce_table(v, scale=SCALE), cli.REDUCE_COLS),
        "reduce_bytes_table": (lambda v: reduce_bytes_table(v, scale=SCALE), cli.RBYTES_COLS),
        "error_summary": (error_summary, cli.ERRORS_COLS),
        "wasted_summary": (lambda v: wasted_summary(v, scale=SCALE), cli.WASTED_COLS),
        "fleet_summary": (lambda v: fleet_summary(v, scale=SCALE), cli.FLEET_COLS),
        "timeline": (lambda v: timeline(v, scale=SCALE), cli.TIMELINE_COLS),
    }


def _read_rows(path: str) -> list[list[str]]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            rows.extend(line.rstrip("\n").split(DELIM) for line in f)
    return rows


def _expected(models) -> dict:
    tl_rows, tl_sums = 0, dict.fromkeys(loggen.SERIES, 0)
    for m in models:
        n, sums = m.timeline(SCALE)
        tl_rows += n
        for k, v in sums.items():
            tl_sums[k] += v
    return {
        "rows": {
            "job_summary": len(models),
            "map_table": sum(m.finished["MAP"] for m in models),
            "reduce_table": sum(m.finished["REDUCE"] for m in models),
            "reduce_bytes_table": sum(m.reduces_with_counters for m in models),
            "error_summary": sum(len(m.error_groups) for m in models),
            "wasted_summary": sum(1 for m in models if sum(m.wasted.values())),
            "fleet_summary": len({m.user for m in models}),
            "timeline": tl_rows,
        },
        "wasted": {
            m.jobid: [sum(m.wasted.values()), m.wasted["MAP"], m.wasted["REDUCE"]]
            for m in models
            if sum(m.wasted.values())
        },
        "fleet_jobs": len(models),
        "timeline": [tl_sums[s] for s in loggen.SERIES],
    }


def operations(ctx) -> list[Op]:
    src = os.path.join(ctx.work, "fleet")
    out = os.path.join(ctx.work, "out")
    want = _expected(ctx.state["models"])

    def make(name, build, cols):
        def run(ctx):
            if name == "job_summary":  # first report of a pass: ingest once per pass
                ctx.state["views"] = load_history(ctx.spark, src)
            write_delimited(build(ctx.state["views"]).select(*cols), os.path.join(out, name), DELIM)

        def check(ctx):
            rows = _read_rows(os.path.join(out, name))
            bad = []
            if len(rows) != want["rows"][name]:
                bad.append(f"{name}: {len(rows)} rows, model {want['rows'][name]}")
            if name == "wasted_summary":
                got = {r[0]: [int(x) for x in r[1:4]] for r in rows}
                if got != want["wasted"]:
                    bad.append("wasted_summary: per-job counts differ from the model")
            elif name == "fleet_summary":
                n = sum(int(r[1]) for r in rows)
                if n != want["fleet_jobs"]:
                    bad.append(f"fleet_summary: {n} jobs, model {want['fleet_jobs']}")
            elif name == "timeline":
                sums = [sum(int(r[i]) for r in rows) for i in range(1, 6)]
                if sums != want["timeline"]:
                    bad.append(f"timeline sums {sums}, model {want['timeline']}")
            return bad

        return Op(name, run, check)

    return [make(n, *r) for n, r in _reports().items()] + charts.operations(ctx)


def _add(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v


def probe(ctx) -> dict:
    """Every job-history layer, over the fleet and over the chart log (each
    of which a pass ingests), summed."""
    fleet_dir = os.path.join(ctx.work, "fleet")
    probe_out = os.path.join(ctx.work, "probe")

    def sink(name, df):
        write_delimited(df, os.path.join(probe_out, name), DELIM)

    out, views = layers.probe_sources(ctx, fleet_dir, "fleet")
    reports = _reports()
    frames = {n: build(views).select(*cols) for n, (build, cols) in reports.items()}
    _add(out, layers.probe_reports(ctx, frames, "fleet", sink))
    tl_metrics, _ = layers.probe_timeline(
        ctx, views, SCALE, "fleet", reports["timeline"][1], sink)
    _add(out, tl_metrics)
    out["sinks.bytes_out"] = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(probe_out, "*", "part-*")))

    src_metrics, chart_views = layers.probe_sources(ctx, ctx.state["chart_path"], "chart")
    _add(out, src_metrics)
    tl_metrics, chart_tl = layers.probe_timeline(ctx, chart_views, CGI_SCALE, "chart")
    _add(out, tl_metrics)
    out.update(charts.probe(ctx, chart_views, chart_tl))
    return out
