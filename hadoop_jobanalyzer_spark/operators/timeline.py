"""Concurrency timeline (SURVEY.md A9): per time bucket, how many maps /
shuffles / sorts / reduces / wasted attempts were running.

Reference semantics (bin/job_history:460-536), with the SURVEY.md §2.9 bug
decisions frozen as:

* end-**inclusive** buckets (Groovy/CGI; the Python frontend's exclusive
  ``range()`` is the outlier);
* proper final-attempt classification (the Python ``if final:`` truthiness
  bug is fixed — waste really is non-final attempts);
* all buckets clamped to ``[0, range]`` (the CGI's ``Math.max(0, …)`` clamp,
  job_history.cgi:297-336; the CLI's negative/overflow autovivification is
  dropped);
* reduce phase boundaries double-count on purpose: shuffle ends at the same
  bucket the sort begins (Groovy ``<=`` loops).

All timestamps are bucketed ``floor(ts/scale)`` *before* arithmetic (the
Python frontend's consistent convention; Groovy's mixed BigDecimal behavior
differs by at most one bucket and is not golden-tested).

Scale design — two physical strategies for one logical operator:

* ``impl="sweep"`` (default): each interval becomes two delta rows
  (+1 at t0, -1 at t1+1, the latter dropped past the job's range); a
  zero-delta row for every t in 0..range (the spine) joins them by union,
  one ``groupBy(job, t)`` sums them per bucket and a cumulative-sum window
  partitioned by job turns the sums into running concurrency. Attempts are
  shuffled once, by job: the final-attempt flag (a window per task), the
  spine, the sums and the running sum all reuse that partitioning, and
  only the final sort shuffles again. Cost: O(attempts) + O(range) rows per
  job — *independent of task duration*, so a 10-hour task costs the same
  as a 10-second one. Jobs are the unit of parallelism (the 100 TB case is
  millions of logs); one job's spine lives in one window partition,
  bounded by the guard below.
* ``impl="explode"``: the literal ``explode(sequence(t0, t1))`` histogram —
  O(sum of interval lengths) rows. Kept as an independently-derived
  cross-check (property tests assert both agree) and for tiny inputs.

Guard (BASELINE.md "timeline scale guard"): a per-job coarsening factor
``k = ceil((range+1)/max_buckets)`` widens buckets so the spine never
exceeds ``max_buckets`` rows regardless of job duration; ``k`` folds into
the same floor arithmetic (k=1 leaves reference semantics untouched).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from hadoop_jobanalyzer_spark.sources.job_history import HistoryViews

_KEY = ["source_file", "jobid"]
SERIES = ["maps", "shuffle", "merge", "reduce", "waste"]


def _scaled(ts: Column, scale: int) -> Column:
    return F.floor(ts / F.lit(scale))


def timeline_intervals(views: HistoryViews, scale: int = 1000) -> DataFrame:
    """Classified, clamped per-attempt intervals in bucket units.

    Columns: source_file, jobid, attempt_id, series, t0, t1 (inclusive),
    range (job's last bucket). One row per (attempt, phase); reduce final
    attempts contribute three phases (bin/job_history:509-526).
    """
    bounds = views.jobs.select(
        *_KEY,
        _scaled(F.col("submit_time"), scale).alias("_submit"),
        _scaled(F.col("finish_time"), scale).alias("_finish"),
    )

    # final_attempts' rule as a flag: a task's final attempt is its SUCCESS
    # attempt with a finish time whose FINISH_TIME record comes last. The
    # window sees every attempt of the task, timed or not (an untimed final
    # attempt still makes its siblings waste). jobid is derived from taskid,
    # so adding it to the window key keeps one partition per task and lets
    # the sweep's per-job shuffle serve this window too.
    ok = (F.col("task_status") == "SUCCESS") & F.col("finish_time").isNotNull()
    last_ok = F.max(F.when(ok, F.col("finish_seq"))).over(
        Window.partitionBy(*_KEY, "taskid")
    )
    att = (
        views.attempts.filter(~F.col("task_type").isin("SETUP", "CLEANUP"))
        .repartition(*_KEY)
        .withColumn("_is_final", F.coalesce(ok & (F.col("finish_seq") == last_ok), F.lit(False)))
        .filter(F.col("start_time").isNotNull() & F.col("finish_time").isNotNull())
        .join(F.broadcast(bounds), _KEY)
    )

    start_s = _scaled(F.col("start_time"), scale)
    end_s = _scaled(F.col("finish_time"), scale)
    sh_s = _scaled(F.col("shuffle_finished"), scale)
    sort_s = _scaled(F.col("sort_finished"), scale)
    submit, finish = F.col("_submit"), F.col("_finish")

    def iv(series: str, lo: Column, hi: Column) -> Column:
        return F.struct(
            F.lit(series).alias("series"),
            (lo - submit).alias("t0"),
            (F.least(hi, finish) - submit).alias("t1"),
        )

    is_map = F.col("kind") == "MapAttempt"
    is_red = F.col("kind") == "ReduceAttempt"
    phases = F.array(
        F.when(is_map & F.col("_is_final"), iv("maps", start_s, end_s)),
        F.when(is_map & ~F.col("_is_final"), iv("waste", start_s, end_s)),
        F.when(is_red & F.col("_is_final"), iv("shuffle", start_s, sh_s)),
        F.when(is_red & F.col("_is_final"), iv("merge", sh_s, sort_s)),
        F.when(is_red & F.col("_is_final"), iv("reduce", sort_s, end_s)),
        F.when(is_red & ~F.col("_is_final"), iv("waste", start_s, end_s)),
    )

    exploded = att.select(
        *_KEY,
        "attempt_id",
        (finish - submit).alias("range"),
        F.explode(phases).alias("_iv"),
    ).filter(F.col("_iv").isNotNull() & F.col("_iv.t1").isNotNull())

    return (
        exploded.select(
            *_KEY,
            "attempt_id",
            "range",
            F.col("_iv.series").alias("series"),
            F.greatest(F.col("_iv.t0"), F.lit(0)).alias("t0"),
            F.least(F.col("_iv.t1"), F.col("range")).alias("t1"),
        )
        .filter(F.col("t1") >= F.col("t0"))
    )


def _coarsen(intervals: DataFrame, max_buckets: int) -> DataFrame:
    """Per-job bucket widening so the spine stays <= max_buckets rows."""
    k = F.greatest(
        F.ceil((F.col("range") + 1) / F.lit(max_buckets)), F.lit(1)
    ).alias("_k")
    return (
        intervals.withColumn("_k", k)
        .withColumn("t0", F.floor(F.col("t0") / F.col("_k")))
        .withColumn("t1", F.floor(F.col("t1") / F.col("_k")))
        .withColumn("range", F.floor(F.col("range") / F.col("_k")))
        .drop("_k")
    )


def _series_sums(value: Column) -> list[Column]:
    return [
        F.coalesce(F.sum(F.when(F.col("series") == s, value)), F.lit(0)).alias(s)
        for s in SERIES
    ]


def _dense_spine(intervals: DataFrame) -> DataFrame:
    """One row per (job, t) for t in 0..range — the zeroed dense arrays of
    bin/job_history:476-482."""
    return (
        intervals.groupBy(*_KEY)
        .agg(F.max("range").alias("range"))
        .select(*_KEY, F.explode(F.sequence(F.lit(0), F.col("range"))).alias("t"))
    )


def timeline(
    views: HistoryViews,
    scale: int = 1000,
    max_buckets: int = 10_000_000,
    impl: str = "sweep",
) -> DataFrame:
    """The timeline report: (source_file, jobid, t, maps, shuffle, merge,
    reduce, waste), dense over t = 0..range, ordered by t."""
    intervals = _coarsen(timeline_intervals(views, scale), max_buckets)
    if impl == "sweep":
        counts = _sweep_counts(intervals)
    elif impl == "explode":
        counts = _explode_counts(intervals)
    else:
        raise ValueError(f"unknown timeline impl: {impl!r}")
    return counts.orderBy(*_KEY, "t")


def _sweep_counts(intervals: DataFrame) -> DataFrame:
    """Interval overlap counting via boundary deltas + running sum.

    Each interval gives a +1 delta at t0 and a -1 at t1+1 (dropped past the
    job's range); the spine adds a zero delta at every t in 0..range, so
    one ``groupBy(job, t)`` yields the dense per-bucket sums and the
    cumulative window turns them into concurrency. The intervals arrive
    partitioned by job (``timeline_intervals``), so the aggregation, the
    spine and the window share that one shuffle.
    """
    deltas = intervals.select(
        *_KEY,
        "range",
        "series",
        F.explode(
            F.array(
                F.struct(F.col("t0").alias("t"), F.lit(1).alias("d")),
                F.struct((F.col("t1") + 1).alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("_e"),
    ).select(*_KEY, "range", "series", F.col("_e.t").alias("t"), F.col("_e.d").alias("d"))

    spine = _dense_spine(intervals).select(
        *_KEY, "t", F.lit(None).cast("string").alias("series"), F.lit(0).alias("d")
    )
    by_bucket = (
        deltas.filter(F.col("t") <= F.col("range"))
        .select(*_KEY, "t", "series", "d")
        .unionByName(spine)
        .groupBy(*_KEY, "t")
        .agg(*_series_sums(F.col("d")))
    )
    w = Window.partitionBy(*_KEY).orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return by_bucket.select(*_KEY, "t", *[F.sum(s).over(w).alias(s) for s in SERIES])


def _explode_counts(intervals: DataFrame) -> DataFrame:
    """Literal per-bucket expansion — the reference's nested loops
    (bin/job_history:486-527) as explode(sequence)+groupBy, zero-filled
    over the spine. Cross-check impl; cost grows with total interval
    length."""
    buckets = intervals.select(
        *_KEY, "series", F.explode(F.sequence(F.col("t0"), F.col("t1"))).alias("t")
    )
    counts = buckets.groupBy(*_KEY, "t").agg(*_series_sums(F.lit(1)))
    filled = [F.coalesce(F.col(s), F.lit(0)).cast("long").alias(s) for s in SERIES]
    return _dense_spine(intervals).join(counts, [*_KEY, "t"], "left").select(*_KEY, "t", *filled)
