"""The chart requests of the fleet_reports pass, and the chart layers' probe.

One generated log shaped like the reference's first fixture log in task
counts (512 maps, 320 reduces) is POSTed as ``log=`` to ``webapp.make_server``
on 127.0.0.1, once for its timeline chart and once for its map Gantt chart,
at the CGI's scale of 100 and size. Each reply must be HTTP 200
``image/png`` with the requested IHDR width and height, byte-identical on
every repeat and to ``webapp.render_chart_png`` called directly. The
fixture's 7-9 h duration would make a ~300k-bucket spine that takes ~11 s
per request on a 4-core host; a 120 min job (~80k buckets) keeps a run
short while the spine still dominates the timeline request.
"""

from __future__ import annotations

import http.client
import os
import struct
import threading
import urllib.parse

import layers
import loggen
from common import Op, force
from hadoop_jobanalyzer_spark.operators import map_table
from hadoop_jobanalyzer_spark.sinks import render_map_gantt_png, render_timeline_png
from hadoop_jobanalyzer_spark.webapp import CGI_SCALE, make_server, render_chart_png

SHAPE = loggen.JobShape(n_maps=512, n_reduces=320, duration_ms=120 * 60_000)
WIDTH, HEIGHT = 1200, 800  # the CGI's chart size
CHARTS = ("timeline", "map")


def prepare(seed: int, work: str) -> dict:
    text, model = loggen.make_job(seed, 1000, SHAPE)
    path = os.path.join(work, "chart.txt")
    with open(path, "w") as f:
        f.write(text)
    return {"chart_path": path, "chart_log": text,
            "chart_input": {"bytes": len(text.encode()), "records": model.n_records,
                            "spine_rows": model.timeline(CGI_SCALE)[0]}}


def _body(log: str, chart: str) -> bytes:
    return urllib.parse.urlencode(
        {"log": log, "chart": chart, "width": WIDTH, "height": HEIGHT}).encode()


def _post(port: int, body: bytes) -> tuple[int, str, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", "/job_history", body,
                     {"Content-Type": "application/x-www-form-urlencoded"})
        resp = conn.getresponse()
        return resp.status, resp.getheader("Content-Type", ""), resp.read()
    finally:
        conn.close()


def _check(chart: str, reply: tuple[int, str, bytes], want: bytes | None) -> list[str]:
    status, ctype, png = reply
    if status != 200 or ctype != "image/png":
        return [f"{chart} chart: HTTP {status} {ctype}"]
    if struct.unpack(">II", png[16:24]) != (WIDTH, HEIGHT):
        return [f"{chart} chart: IHDR {struct.unpack('>II', png[16:24])}, "
                f"asked {(WIDTH, HEIGHT)}"]
    if want is not None and png != want:
        return [f"{chart} chart: PNG differs from the first reply"]
    return []


def operations(ctx) -> list[Op]:
    """One operation per chart; starts the webapp, served from a thread of
    this process until the run's closers run."""
    srv = make_server(ctx.spark, "127.0.0.1", 0)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()

    def close():
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=60)

    ctx.closers.append(close)
    replies: dict[str, tuple[int, str, bytes]] = {}
    pngs = ctx.state["chart_pngs"] = {}  # each chart's first reply

    def make(chart):
        body = _body(ctx.state["chart_log"], chart)

        def run(ctx):
            with ctx.tracer.span("webapp.request", ungrouped=True, chart=chart):
                replies[chart] = _post(srv.server_address[1], body)

        def check(ctx):
            bad = _check(chart, replies[chart], pngs.get(chart))
            pngs.setdefault(chart, replies[chart][2])
            return bad

        return Op(f"{chart}_chart", run, check)

    return [make(c) for c in CHARTS]


def probe(ctx, views, timeline_df) -> dict:
    """Sink and webapp layers over the chart log; ``views`` and
    ``timeline_df`` are its ingest and its timeline at scale 100."""
    tr = ctx.tracer
    out = {}
    png = os.path.join(ctx.work, "probe.png")
    # render_timeline_png's own collect, and the raster after it, over the
    # timeline cached in memory (as in layers.sink_self_time)
    keys = [c for c in ("source_file", "jobid") if c in timeline_df.columns]
    frame = timeline_df.select(*keys, "t", *loggen.SERIES).orderBy("t")
    timeline_df.cache()
    try:
        force(timeline_df)
        with tr.span("sinks.timeline_force"):
            force(frame)
        with tr.span("sinks.timeline_collect"):
            frame.collect()
        with tr.span("sinks.render_timeline_png"):
            render_timeline_png(timeline_df, png, width=WIDTH, height=HEIGHT)
    finally:
        timeline_df.unpersist()
    out["sinks.timeline_collect_s"] = tr.self_time(
        "sinks.timeline_collect", ("sinks.timeline_force",))
    out["sinks.render_timeline_png_s"] = tr.self_time(
        "sinks.render_timeline_png", ("sinks.timeline_collect",))
    out["sinks.render_gantt_png_s"] = layers.sink_self_time(
        tr, "sinks.render_gantt_png", map_table(views, scale=CGI_SCALE),
        lambda mt: render_map_gantt_png(mt, png, width=WIDTH, height=HEIGHT))

    # the direct calls, after the traced pass's requests: they run the same
    # plans warmer, so the overhead errs high
    for chart in CHARTS:
        with tr.span("webapp.render_chart_png", chart=chart):
            direct = render_chart_png(ctx.spark, log=ctx.state["chart_log"], chart=chart,
                                      width=WIDTH, height=HEIGHT)
        ctx.fails.attempt()
        for bad in _check(chart, (200, "image/png", direct), ctx.state["chart_pngs"].get(chart)):
            ctx.fails.fail(f"direct render: {bad}")
    out["webapp.render_chart_png_s"] = tr.duration("webapp.render_chart_png")
    out["webapp.http_overhead_s"] = (tr.duration("webapp.request")
                                     - out["webapp.render_chart_png_s"])
    return out
