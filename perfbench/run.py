"""Job-history benchmark: one seeded workload per run, end to end or traced.

    python3 perfbench/run.py --workload fleet_reports --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

* ``fleet_reports``  every CLI report over a directory of generated job logs;
* ``query_sample``   a family-stratified sample of the registered queries.

Each run generates its inputs from ``--seed`` under ``.perfbench_work/``,
builds one ``get_spark()`` session at ``local[<nproc>]``, runs one untimed
pass of the workload's operations (part of set-up), then repeats timed
passes for ``--seconds`` as a closed loop with one client. Every operation's
output is checked against a model computed outside the engine. The last
line of standard output is one JSON object: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` each operation runs once untraced and once
traced, every layer is then forced on its own, and the per-layer metrics
are reported. Spans and a run record go to ``.perfbench_out/``. The command
exits nonzero on any failed or mismatched operation, and when the engine's
source tree is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from py4j.protocol import Py4JError

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fleet_reports", "query_sample")

# Per-layer metrics, each tagged with the end-to-end metric and workload it
# should move. Every traced run reports all of them; a layer the workload
# does not exercise reads 0.
LAYERS: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "setup_s", "all"),
    "sources.read_raw_records_s": ("s", "pass_s", "fleet_reports"),
    "sources.parse_records_s": ("s", "pass_s", "fleet_reports"),
    "sources.jobs_view_s": ("s", "pass_s", "fleet_reports"),
    "sources.tasks_view_s": ("s", "pass_s", "fleet_reports"),
    "sources.attempts_view_s": ("s", "pass_s", "fleet_reports"),
    "sources.final_attempts_s": ("s", "pass_s", "fleet_reports"),
    "sources.records": ("count", "pass_s", "fleet_reports"),
    "sources.bytes_in": ("bytes", "pass_s", "fleet_reports"),
    "functions.parse_counters_s": ("s", "pass_s", "fleet_reports"),
    "history_reports.job_summary_s": ("s", "pass_s", "fleet_reports"),
    "history_reports.map_table_s": ("s", "pass_s", "fleet_reports"),
    "history_reports.reduce_table_s": ("s", "pass_s", "fleet_reports"),
    "history_reports.reduce_bytes_table_s": ("s", "pass_s", "fleet_reports"),
    "history_reports.error_summary_s": ("s", "pass_s", "fleet_reports"),
    "history_reports.wasted_summary_s": ("s", "pass_s", "fleet_reports"),
    "history_reports.fleet_summary_s": ("s", "pass_s", "fleet_reports"),
    "history_reports.spark_stages": ("count", "pass_s", "fleet_reports"),
    "timeline.timeline_intervals_s": ("s", "pass_s", "fleet_reports"),
    "timeline.timeline_s": ("s", "pass_s", "fleet_reports"),
    "timeline.interval_rows": ("count", "pass_s", "fleet_reports"),
    "timeline.spine_rows": ("count", "pass_s", "fleet_reports"),
    "timeline.spark_stages": ("count", "pass_s", "fleet_reports"),
    "sinks.timeline_collect_s": ("s", "pass_s", "fleet_reports"),
    "sinks.render_timeline_png_s": ("s", "pass_s", "fleet_reports"),
    "sinks.render_gantt_png_s": ("s", "pass_s", "fleet_reports"),
    "sinks.write_delimited_s": ("s", "pass_s", "fleet_reports"),
    "sinks.bytes_out": ("bytes", "pass_s", "fleet_reports"),
    "webapp.render_chart_png_s": ("s", "pass_s", "fleet_reports"),
    "webapp.http_overhead_s": ("s", "pass_s", "fleet_reports"),
    "plans.build_s": ("s", "pass_s", "query_sample"),
    "plans.exec_s": ("s", "pass_s", "query_sample"),
    "plans.spark_jobs": ("count", "pass_s", "query_sample"),
    "plans.spark_stages": ("count", "pass_s", "query_sample"),
    "plans.rows_out": ("count", "pass_s", "query_sample"),
    "trace.overhead_s": ("s", "pass_s", "all"),
}

# The issue-level names of the end-to-end metrics on each workload.
ALIASES = {
    "fleet_reports": {"pass_s": "fleet_wall_s"},
    "query_sample": {"pass_s": "query_total_s", "op_p50_s": "query_p50_s"},
}


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile that still has at least
    ten samples beyond it; the maximum when there are fewer than a hundred
    samples, where that percentile would fall below p90 (at or below the
    median with twenty)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 100:
        return xs[-1], 100.0
    k = n - 11  # ten samples beyond index k
    return xs[k], 100.0 * (k + 1) / n


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM it drives, in MiB."""
    total = 0
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far: the share of time the
    hypervisor ran something else, recorded to explain noisy runs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def start_session():
    """get_spark() at local[nproc] with the engine's own defaults, then one
    trivial action; returns (spark, seconds)."""
    from hadoop_jobanalyzer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{os.cpu_count()}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    except Py4JError:  # the JVM died (e.g. out of memory); nothing left to stop
        pass
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout: Python and JVM
    temp files and Spark's local dirs go under ``work``, and the JVM keeps
    no perf-counter file in the system temp dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    tempfile.tempdir = tmp
    os.chdir(work)


def run_pass(ctx, ops, latencies: list[float]) -> float:
    """Run each operation once, timed, then check its output untimed;
    return the pass's timed seconds."""
    total = 0.0
    for op in ops:
        ctx.fails.attempt()
        bad: list[str] = []
        with ctx.tracer.span(f"op:{op.name}"):
            t = time.perf_counter()
            try:
                op.run(ctx)
            except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
                bad.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}")
            dt = time.perf_counter() - t
        if not bad:
            try:
                bad = op.check(ctx)
            except Exception as exc:  # noqa: BLE001 — an unreadable output is a mismatch
                bad.append(f"{op.name} check: {type(exc).__name__}: {str(exc)[:300]}")
        latencies.append(dt)
        total += dt
        if bad:
            ctx.fails.fail("; ".join(bad))
    return total


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hadoop_jobanalyzer_spark")):
        print(f"engine source tree not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import pyspark

    import fleet
    import queries
    from common import Ctx, Failures
    from spans import Tracer

    module = {"fleet_reports": fleet, "query_sample": queries}[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    record: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
    }
    fails = Failures()
    spark = ctx = None
    metrics: dict | None = None
    try:
        t = time.perf_counter()
        state = module.prepare(args.seed, work, record)
        record["input_gen_s"] = time.perf_counter() - t
        spark, session_s = start_session()
        record["master"] = spark.sparkContext.master
        record["engine_conf"] = dict(spark.sparkContext.getConf().getAll())
        tracer = Tracer(spark, run_id, enabled=False)
        ctx = Ctx(spark, work, tracer, fails, record, state)
        ops = module.operations(ctx)
        # set-up ends with one untimed pass, so caches the engine fills on
        # first use count here and not in the timed passes
        warmup = run_pass(ctx, ops, [])
        setup = session_s + warmup
        record.update(session_s=session_s, warmup_s=warmup)

        passes: list[float] = []
        latencies: list[float] = []
        steal0, total0 = steal_ticks()
        if args.trace:  # one traced pass, then every layer on its own
            tracer.enabled = True
            passes.append(run_pass(ctx, ops, latencies))
        else:
            while not passes or sum(passes) < args.seconds:
                passes.append(run_pass(ctx, ops, latencies))
        steal1, total1 = steal_ticks()
        record.update(passes=passes, latencies=latencies,
                      host_steal_share=(steal1 - steal0) / max(total1 - total0, 1))

        if args.trace:
            layers = dict.fromkeys(LAYERS, 0.0)
            layers.update(module.probe(ctx))
            layers["session.get_spark_s"] = session_s
            layers["trace.overhead_s"] = tracer.overhead
            tracer.write(os.path.join(out_dir, f"{run_id}.spans.json"))
            metrics = {k: {"value": v, "unit": LAYERS[k][0]} for k, v in layers.items()}
            for k, (unit, moves, wl) in LAYERS.items():
                print(f"{k:38s} {layers[k]:14.4f} {unit:5s}  moves {moves} on {wl}")
        else:
            value, pct = tail(latencies)
            e2e = {
                "setup_s": (setup, "s"),
                "pass_s": (statistics.median(passes), "s"),
                "op_p50_s": (statistics.median(latencies), "s"),
                "op_tail_s": (value, "s"),
                "peak_rss_mb": (peak_rss_mb(spark), "MiB"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            aliases = ALIASES[args.workload]
            for k, (v, u) in e2e.items():
                alias = f" ({aliases[k]})" if k in aliases else ""
                print(f"{k + alias:28s} {v:12.4f} {u}")
            print(f"op_tail_s is p{pct:.1f} of {len(latencies)} samples; "
                  f"{len(passes)} passes; host steal {record['host_steal_share']:.1%}; "
                  f"input {json.dumps(record['input'])}")
        print(f"{'failed_frac':28s} {fails.failed / max(fails.attempted, 1):12.4f} "
              f"ratio ({fails.failed} of {fails.attempted})")
        record["metrics"] = metrics
    except Exception as exc:  # noqa: BLE001 — the run failed: no result line
        import traceback

        traceback.print_exc()
        fails.fail(f"{type(exc).__name__}: {exc}")
        metrics = None
    finally:
        for close in ctx.closers if ctx is not None else ():
            close()
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    record.update(attempted=fails.attempted, failed=fails.failed, reasons=fails.reasons)
    with open(os.path.join(out_dir, f"{run_id}.record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for r in fails.reasons:
        print(f"FAILED: {r}", file=sys.stderr)
    if metrics is None:
        return 1
    print(json.dumps({
        "correct": fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": metrics,
    }))
    return 0 if fails.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
