"""Parsing of Hadoop's nested COUNTERS attribute format.

Format (SURVEY.md §1.1; reference regexes ``/root/reference/bin/job_history:194-195``,
``bin/job_history.py:23-33``):

    {(<groupClassKey>)(<groupDisplayName>)<counters>}...
    where <counters> = [(<counterKey>)(<counterDisplayName>)(<longValue>)]...

The whole parse is built from Catalyst expressions (``regexp_extract_all`` +
``transform`` + ``map_from_arrays``) so it runs JVM-side inside whole-stage
codegen — no Python UDF (SURVEY.md §2.8). Unlike the reference's
``printNice`` (which re-scans the whole value per group,
``bin/job_history:363-371`` — a documented bug, SURVEY.md §2.9), each
group's counters are parsed from that group's body only, matching the
correct Python implementation (``bin/job_history.py:26-33``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# One regex per nesting level, equivalent to the reference's groupPat /
# counterPat (bin/job_history:194-195).
GROUP_RE = r"\{\(([^)]+)\)\(([^)]+)\)([^}]*)\}"
COUNTER_RE = r"\[\(([^)]+)\)\(([^)]+)\)\(([^)]+)\)\]"


def parse_counters(col: Column | str) -> Column:
    """COUNTERS string -> array<struct<group:string, counters:map<string,long>>>.

    Group/counter names are the *display* names (second parenthesized field),
    matching what the reference keys its lookups on (e.g.
    ``counters['FileSystemCounters']['HDFS_BYTES_WRITTEN']``,
    ``bin/job_history:348``).

    Precondition: apply it above a stage boundary from the record split (a
    shuffle or a materialized frame), never in the same stage as
    ``job_history.parse_records`` over ``read_raw_records``. In one stage
    with the whole-file split, the parse of a single ~1 MB log exhausted a
    1 GiB heap and killed the JVM. ``load_history`` meets this by
    construction: counters are parsed only in the view projections, above
    the materialized merge.
    """
    col = F.col(col) if isinstance(col, str) else col
    group_bodies = F.regexp_extract_all(col, F.lit(GROUP_RE), 0)
    return F.transform(
        group_bodies,
        lambda g: F.struct(
            F.regexp_extract(g, GROUP_RE, 2).alias("group"),
            F.map_from_arrays(
                F.regexp_extract_all(g, F.lit(COUNTER_RE), 2),
                F.transform(
                    F.regexp_extract_all(g, F.lit(COUNTER_RE), 3),
                    lambda v: v.cast("long"),
                ),
            ).alias("counters"),
        ),
    )


def counter_value(counters: Column | str, group: str, counter: str) -> Column:
    """Lookup one counter long from a parsed counters column; null if absent.

    Spark analog of the reference's two-level dict access
    (``bin/job_history:348``, ``bin/job_history.py:104``).
    """
    counters = F.col(counters) if isinstance(counters, str) else counters
    grp = F.element_at(F.filter(counters, lambda s: s["group"] == F.lit(group)), 1)
    return F.element_at(grp["counters"], F.lit(counter))
