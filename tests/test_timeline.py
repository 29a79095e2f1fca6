"""Timeline operator: hand-computed tiny-log buckets, sweep==explode
cross-check, invariants, and the bucket-coarsening scale guard."""

import os

import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.operators.timeline import (
    SERIES,
    timeline,
    timeline_intervals,
)
from hadoop_jobanalyzer_spark.sources import final_attempts, load_history

DATA = os.path.join(os.path.dirname(__file__), "data")
TINY = os.path.join(DATA, "tiny_log.txt")
# one map task with two SUCCESS attempts (the later record wins), a FAILED,
# a KILLED, a SUCCESS record without FINISH_TIME and a START_TIME="0"
# attempt; a map task whose final attempt has START_TIME="0"; and a reduce
# task with a speculative SUCCESS and a KILLED attempt
FINAL_FLAG = os.path.join(DATA, "final_flag_log.txt")
IN_REPO_LOGS = [TINY, os.path.join(DATA, "failed_log.txt"), FINAL_FLAG]


def series_sums(df):
    row = df.groupBy().sum(*SERIES).collect()[0]
    return {f"sum({s})": row[f"sum({s})"] for s in SERIES}


def test_intervals_tiny(spark):
    ivs = {
        (r["attempt_id"], r["series"]): (r["t0"], r["t1"])
        for r in timeline_intervals(load_history(spark, TINY)).collect()
    }
    a = "attempt_202001010000_0001_"
    assert ivs == {
        (a + "m_000000_0", "maps"): (2000, 6200),
        (a + "m_000001_1", "maps"): (4100, 7000),
        (a + "m_000001_0", "waste"): (2500, 4000),
        (a + "r_000000_0", "shuffle"): (5000, 8000),
        (a + "r_000000_0", "merge"): (8000, 9000),
        (a + "r_000000_0", "reduce"): (9000, 10000),
    }


@pytest.mark.parametrize("impl", ["sweep", "explode"])
def test_timeline_tiny(spark, impl):
    tl = timeline(load_history(spark, TINY), impl=impl).cache()
    assert tl.count() == 11001  # dense spine 0..range inclusive
    by_t = {r["t"]: r for r in tl.collect()}
    assert tuple(by_t[2000][s] for s in SERIES) == (1, 0, 0, 0, 0)
    assert tuple(by_t[2500][s] for s in SERIES) == (1, 0, 0, 0, 1)
    assert tuple(by_t[4100][s] for s in SERIES) == (2, 0, 0, 0, 0)  # waste ended at 4000
    assert tuple(by_t[6200][s] for s in SERIES) == (2, 1, 0, 0, 0)  # end-inclusive
    assert tuple(by_t[6201][s] for s in SERIES) == (1, 1, 0, 0, 0)
    assert tuple(by_t[8000][s] for s in SERIES) == (0, 1, 1, 0, 0)  # phase overlap
    assert tuple(by_t[10000][s] for s in SERIES) == (0, 0, 0, 1, 0)
    assert tuple(by_t[10001][s] for s in SERIES) == (0, 0, 0, 0, 0)
    sums = series_sums(tl)
    assert sums["sum(maps)"] == 4201 + 2901
    assert sums["sum(waste)"] == 1501
    assert sums["sum(shuffle)"] == 3001
    assert sums["sum(merge)"] == 1001
    assert sums["sum(reduce)"] == 1001
    tl.unpersist()


def _final_flag_split(v):
    """(attempts labelled maps/shuffle/merge/reduce, attempts labelled
    waste, final attempts, timed non-SETUP/CLEANUP attempts)."""
    ivs = timeline_intervals(v).select("attempt_id", "series").collect()
    timed = v.attempts.filter(
        ~F.col("task_type").isin("SETUP", "CLEANUP")
        & F.col("start_time").isNotNull()
        & F.col("finish_time").isNotNull()
    )
    return (
        {r["attempt_id"] for r in ivs if r["series"] != "waste"},
        {r["attempt_id"] for r in ivs if r["series"] == "waste"},
        {r["attempt_id"] for r in final_attempts(v.attempts).collect()},
        {r["attempt_id"] for r in timed.collect()},
    )


@pytest.mark.parametrize("path", [TINY, FINAL_FLAG], ids=os.path.basename)
def test_final_flag_matches_final_attempts(spark, path):
    """The timeline's in-window final flag picks exactly final_attempts'
    rows; every other timed attempt is waste."""
    final_series, waste, finals, timed = _final_flag_split(load_history(spark, path))
    assert final_series == finals & timed
    assert waste == timed - finals


def test_final_flag_edge_cases(spark):
    final_series, waste, finals, _ = _final_flag_split(load_history(spark, FINAL_FLAG))
    a = "attempt_202001010000_0003_"
    # m_000000: _1's SUCCESS record comes after _0's although it finished
    # earlier; _4 has no FINISH_TIME. m_000001: the final _1 starts at 0,
    # so it draws nothing and its sibling _0 is waste.
    assert finals == {a + "m_000000_1", a + "m_000001_1", a + "r_000000_1"}
    assert final_series == {a + "m_000000_1", a + "r_000000_1"}
    assert waste == {
        a + "m_000000_0", a + "m_000000_2", a + "m_000000_3",
        a + "m_000001_0", a + "r_000000_0", a + "r_000000_2",
    }


@pytest.mark.parametrize("path", IN_REPO_LOGS, ids=os.path.basename)
@pytest.mark.parametrize("scale", [1000, 100])
def test_sweep_matches_explode_in_repo_logs(spark, path, scale):
    v = load_history(spark, path)
    sweep = timeline(v, scale=scale, impl="sweep").collect()
    assert sweep == timeline(v, scale=scale, impl="explode").collect()


def test_sweep_matches_explode_fixture(spark, fixture_log1):
    """The two independently-derived physical strategies must agree bucket
    for bucket on a real 7-hour job log."""
    v = load_history(spark, fixture_log1)
    sweep = timeline(v, impl="sweep")
    explode = timeline(v, impl="explode")
    assert sweep.count() == explode.count()
    diff = sweep.exceptAll(explode)
    assert diff.count() == 0


def test_timeline_invariant_sums(spark, fixture_log1):
    """Sum over t of each series == total interval length (end-inclusive) —
    FIXTURES.md §4 invariant."""
    v = load_history(spark, fixture_log1)
    ivs = timeline_intervals(v)
    expected = {
        r["series"]: r["total"]
        for r in ivs.groupBy("series")
        .agg(F.sum(F.col("t1") - F.col("t0") + 1).alias("total"))
        .collect()
    }
    sums = series_sums(timeline(v, impl="sweep"))
    for s in SERIES:
        assert sums[f"sum({s})"] == expected.get(s, 0), s


def test_coarsening_guard(spark, fixture_log1):
    """max_buckets caps the spine; concurrency counts survive coarsening
    (an interval overlapping a wide bucket still counts once)."""
    v = load_history(spark, fixture_log1)
    fine = timeline(v)  # range ~26033 buckets at seconds scale
    coarse = timeline(v, max_buckets=1000).cache()
    n = coarse.count()
    assert n <= 1001
    # max concurrency can only grow (or hold) when buckets widen
    fine_max = fine.groupBy().max(*SERIES).collect()[0]
    coarse_max = coarse.groupBy().max(*SERIES).collect()[0]
    for s in SERIES:
        assert coarse_max[f"max({s})"] >= fine_max[f"max({s})"]
    coarse.unpersist()
