"""Seeded generator of Hadoop 0.20 job-history logs, with an expected-answer
model computed in pure Python from the records it writes.

One call to :func:`make_job` builds one job: its log text (one job per file)
and a :class:`JobModel` holding what the engine's reports must produce for
it. The model is an independent fold over the generated records in file
order (last write wins per key, final attempt = last SUCCESS finish record
in record order, end-inclusive timeline buckets clamped to the job's range),
not a call into the engine.

Knobs (FIXTURES.md section 1): map and reduce counts, failure and
speculative rates, job duration, multi-line ``ERROR`` stack traces, escaped
``. = :`` in values, nested COUNTERS, duplicate keys in one record (last
write wins), ``START_TIME="0"`` on attempts killed before they started, and
an unterminated trailing remainder the parser must drop.

The same seed gives byte-identical logs: all randomness comes from one
``random.Random`` per job, seeded from the caller's seed and the job index.
"""

from __future__ import annotations

import random
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

SERIES = ("maps", "shuffle", "merge", "reduce", "waste")
EPOCH_MS = 1_288_000_000_000  # jobs are submitted within 30 days of this instant
USERS = ("alice", "bob", "carol", "dave", "erin", "frank", "grace")
EXCEPTIONS = (
    "java\\.lang\\.OutOfMemoryError",
    "java\\.io\\.IOException",
    "org\\.apache\\.hadoop\\.fs\\.ChecksumException",
    "java\\.lang\\.RuntimeException",
)


@dataclass(frozen=True)
class JobShape:
    """Size and failure knobs for one generated job."""

    n_maps: int
    n_reduces: int
    duration_ms: int
    fail_rate: float = 0.12  # share of attempts that fail and are retried
    spec_rate: float = 0.06  # share of tasks that get a speculative attempt
    n_traces: int = 2  # failed attempts whose ERROR is a multi-line trace
    unterminated: bool = False  # append a record without its " ." end


@dataclass
class JobModel:
    """Expected answers for one job, computed from its records."""

    jobid: str
    user: str
    submit_time: int
    finish_time: int
    n_records: int
    tasks: Counter = field(default_factory=Counter)  # task_type -> tasks
    finished: Counter = field(default_factory=Counter)  # task_type -> finished tasks
    attempts: Counter = field(default_factory=Counter)  # task_type -> attempts
    finals: int = 0
    reduces_with_counters: int = 0
    wasted: Counter = field(default_factory=Counter)  # MAP/REDUCE -> wasted attempts
    error_groups: set = field(default_factory=set)
    # (attempt_id, kind, final, start, finish, shuffle, sort) per attempt
    # with a finish record, in ms; the timeline is computed from these
    intervals: list = field(default_factory=list)

    def timeline(self, scale: int) -> tuple[int, dict[str, int]]:
        """(spine rows, per-series sums) of the engine's timeline at
        ``scale``: end-inclusive buckets clamped to [0, range]."""
        submit, finish = self.submit_time // scale, self.finish_time // scale
        rng = finish - submit
        sums = dict.fromkeys(SERIES, 0)
        for _aid, kind, final, start, end, sh, so in self.intervals:
            if start is None or end is None:
                continue
            s, e = start // scale, end // scale
            if kind == "MapAttempt":
                phases = [("maps" if final else "waste", s, e)]
            elif final:
                phases = [("shuffle", s, sh // scale), ("merge", sh // scale, so // scale),
                          ("reduce", so // scale, e)]
            else:
                phases = [("waste", s, e)]
            for series, lo, hi in phases:
                t0 = max(lo - submit, 0)
                t1 = min(min(hi, finish) - submit, rng)
                if t1 >= t0:
                    sums[series] += t1 - t0 + 1
        return rng + 1, sums


def _esc(s: str) -> str:
    """Hadoop's value escaping of ``. = :`` (the engine never unescapes)."""
    return re.sub(r"([.=:])", r"\\\1", s)


def _counters(groups: list[tuple[str, str, list[tuple[str, str, int]]]]) -> str:
    return "".join(
        "{(%s)(%s)%s}" % (key, name, "".join("[(%s)(%s)(%d)]" % c for c in ctrs))
        for key, name, ctrs in groups
    )


def _map_counters(rng: random.Random) -> str:
    rd = rng.randint(1 << 20, 1 << 27)
    recs = rd // rng.randint(80, 200)
    return _counters([
        ("FileSystemCounters", "FileSystemCounters", [
            ("HDFS_BYTES_READ", "HDFS_BYTES_READ", rd),
            ("FILE_BYTES_WRITTEN", "FILE_BYTES_WRITTEN", rd // 3),
        ]),
        ("org\\.apache\\.hadoop\\.mapred\\.Task$Counter", "Map-Reduce Framework", [
            ("MAP_INPUT_RECORDS", "Map input records", recs),
            ("MAP_OUTPUT_RECORDS", "Map output records", recs * 2),
            ("SPILLED_RECORDS", "Spilled Records", recs),
        ]),
    ])


def _reduce_counters(rng: random.Random) -> str:
    wr = rng.randint(1 << 18, 1 << 26)
    return _counters([
        ("FileSystemCounters", "FileSystemCounters", [
            ("FILE_BYTES_READ", "FILE_BYTES_READ", wr * 2),
            ("HDFS_BYTES_WRITTEN", "HDFS_BYTES_WRITTEN", wr),
        ]),
        ("org\\.apache\\.hadoop\\.mapred\\.Task$Counter", "Map-Reduce Framework", [
            ("REDUCE_INPUT_GROUPS", "Reduce input groups", wr // 97),
            ("REDUCE_SHUFFLE_BYTES", "Reduce shuffle bytes", wr * 2),
            ("REDUCE_OUTPUT_RECORDS", "Reduce output records", wr // 50),
        ]),
    ])


def _error(rng: random.Random, multiline: bool) -> str:
    exc = rng.choice(EXCEPTIONS)
    if not multiline:
        return f"Error: {exc}: task failed"
    frames = "".join(
        f"\n\tat org\\.apache\\.hadoop\\.mapred\\.{c}\\.run"
        f"({c}\\.java:{rng.randint(50, 900)})"
        for c in ("MapTask", "Child", "TaskRunner")[: rng.randint(2, 3)]
    )
    return f"Error: {exc}: Java heap space{frames}\nError: {exc}: Java heap space"


def _error_class(error: str | None) -> str | None:
    """The engine's error_summary exception class of one ERROR value."""
    if error is None:
        return None
    m = re.search(r"([\w$]+(?:\\\.[\w$]+)*(?:Exception|Error))", error)
    return m.group(1).replace("\\.", ".") if m else None


TRACKER = "tracker_h{}:localhost/127\\.0\\.0\\.1:{}"


class _Job:
    """Collects one job's records with their event times, then renders them
    in time order."""

    def __init__(self, rng: random.Random, jid: str, shape: JobShape):
        self.rng = rng
        self.jid = jid
        self.shape = shape
        self.events: list[tuple[int, int, str, list[tuple[str, str]]]] = []
        self.failed = Counter()
        self.traces_left = shape.n_traces

    def emit(self, t: int, event: str, pairs: list[tuple[str, str]]) -> None:
        self.events.append((t, len(self.events), event, pairs))

    def ids(self, kind: str, n: int) -> tuple[str, str]:
        """(task id, attempt id prefix) of task ``n`` of ``kind``."""
        tid = f"task_{self.jid}_{kind}_{n:06d}"
        return tid, "attempt" + tid[4:]

    def aux_task(self, task_type: str, n: int, t: int, state: str) -> int:
        """A SETUP or CLEANUP task: one attempt, which succeeds."""
        tid, aid = self.ids("m", n)
        base = [("TASK_TYPE", task_type), ("TASKID", tid), ("TASK_ATTEMPT_ID", aid + "_0")]
        self.emit(t, "Task", [("TASKID", tid), ("TASK_TYPE", task_type),
                              ("START_TIME", str(t)), ("SPLITS", "")])
        self.emit(t + 20, "MapAttempt", base + [("START_TIME", str(t + 20)),
                                                ("TRACKER_NAME", TRACKER.format(0, 4001)),
                                                ("HTTP_PORT", "50060")])
        self.emit(t + 600, "MapAttempt", base + [("TASK_STATUS", "SUCCESS"),
                                                 ("FINISH_TIME", str(t + 600)),
                                                 ("HOSTNAME", "/rack0/h0"), ("STATE_STRING", state)])
        self.emit(t + 650, "Task", [("TASKID", tid), ("TASK_TYPE", task_type),
                                    ("TASK_STATUS", "SUCCESS"), ("FINISH_TIME", str(t + 650))])
        return t + 650

    def task(self, kind: str, n: int, t_start: int, span: int) -> int:
        """One MAP or REDUCE task: failed attempts retried until one
        succeeds, sometimes beside a speculative twin. Returns the task's
        finish time."""
        rng = self.rng
        is_map = kind == "MAP"
        tid, aid0 = self.ids("m" if is_map else "r", n)
        ev = "MapAttempt" if is_map else "ReduceAttempt"
        splits = f"/rack{n % 4}/h{n % 16},/rack{(n + 1) % 4}/h{(n + 5) % 16}" if is_map else ""
        self.emit(t_start, "Task", [("TASKID", tid), ("TASK_TYPE", kind),
                                    ("START_TIME", str(t_start)), ("SPLITS", splits)])
        k, t = 0, t_start
        while True:
            aid = f"{aid0}_{k}"
            base = [("TASK_TYPE", kind), ("TASKID", tid), ("TASK_ATTEMPT_ID", aid)]
            a0 = t + rng.randint(100, 3_000)
            length = max(2_000, int(rng.uniform(0.4, 0.8) * span))
            host = rng.randint(0, 15)
            self.emit(a0, ev, base + [("START_TIME", str(a0)),
                                      ("TRACKER_NAME", TRACKER.format(host, 4000 + n % 50)),
                                      ("HTTP_PORT", "50060")])
            if k < 3 and rng.random() < self.shape.fail_rate:
                t = a0 + max(1_000, int(length * rng.uniform(0.1, 0.5)))
                multiline = self.traces_left > 0
                self.traces_left -= multiline
                self.failed[kind] += 1
                self.emit(t, ev, base + [("TASK_STATUS", "FAILED"), ("FINISH_TIME", str(t)),
                                         ("HOSTNAME", f"h{host}"),
                                         ("ERROR", _error(rng, multiline))])
                k += 1
                continue
            a1 = a0 + length
            done = base + [("TASK_STATUS", "SUCCESS")]
            if not is_map:
                sh = a0 + int(length * rng.uniform(0.3, 0.6))
                so = sh + int((a1 - sh) * rng.uniform(0.1, 0.4))
                done += [("SHUFFLE_FINISHED", str(sh)), ("SORT_FINISHED", str(so))]
            if rng.random() < 0.2:
                # duplicate keys in one record: the stale first writes lose
                done += [("FINISH_TIME", str(a1 - 777)), ("HOSTNAME", "stale")]
            done += [("FINISH_TIME", str(a1)), ("HOSTNAME", f"/rack{n % 4}/h{host}"),
                     ("STATE_STRING", "" if is_map else "reduce > reduce"),
                     ("COUNTERS", _map_counters(rng) if is_map else _reduce_counters(rng))]
            self.emit(a1, ev, done)
            if rng.random() < self.shape.spec_rate:
                a1 = self.twin(ev, base, aid0, k + 1, done, a0 + length // 2, a1)
            finish = a1 + rng.randint(10, 900)
            end = [("TASKID", tid), ("TASK_TYPE", kind), ("TASK_STATUS", "SUCCESS"),
                   ("FINISH_TIME", str(finish))]
            if not is_map or rng.random() < 0.5:
                end.append(("COUNTERS", _map_counters(rng) if is_map else _reduce_counters(rng)))
            self.emit(finish, "Task", end)
            return finish

    def twin(self, ev, base, aid0, k, done, s0, a1) -> int:
        """A speculative attempt beside the successful one: killed before it
        started (START_TIME "0"), killed mid-run, or a second SUCCESS that
        finishes later and so becomes the final attempt. Returns when the
        task's last attempt ended."""
        rng = self.rng
        sid = f"{aid0}_{k}"
        twin = [(key, sid if key == "TASK_ATTEMPT_ID" else v) for key, v in base]
        mode = rng.choice(("zero", "killed", "twin"))
        self.emit(s0, ev, twin + [("START_TIME", "0" if mode == "zero" else str(s0)),
                                  ("TRACKER_NAME", TRACKER.format(rng.randint(0, 15), 4999)),
                                  ("HTTP_PORT", "50060")])
        if mode != "twin":
            self.emit(a1 - 1, ev, twin + [("TASK_STATUS", "KILLED"), ("FINISH_TIME", str(a1 - 1)),
                                          ("HOSTNAME", "h0")])
            return a1
        t1 = a1 + rng.randint(50, 2_000)
        self.emit(t1, ev, [(key, sid if key == "TASK_ATTEMPT_ID" else
                            str(t1) if key == "FINISH_TIME" else v) for key, v in done])
        return t1


def make_job(seed: int, index: int, shape: JobShape):
    """Build job ``index`` of a corpus seeded by ``seed``.

    Returns ``(text, model)``: the log as one string (one job per file) and
    its :class:`JobModel`.
    """
    rng = random.Random(seed * 1_000_003 + index)
    jid = f"{202001010000 + seed % 10_000:012d}_{index + 1:04d}"
    jobid = f"job_{jid}"
    job = _Job(rng, jid, shape)
    user = rng.choice(USERS)
    submit = EPOCH_MS + rng.randint(0, 30 * 86_400_000)
    launch = submit + rng.randint(500, 5_000)
    dur = shape.duration_ms

    work0 = job.aux_task("SETUP", shape.n_maps, launch + 200, "setup") + 50
    last = work0
    map_span = int(dur * 0.55)
    for n in range(shape.n_maps):
        t0 = work0 + int(map_span * 0.8 * n / max(shape.n_maps, 1))
        last = max(last, job.task("MAP", n, t0, map_span // 6))
    red0 = work0 + int(dur * 0.35)
    for n in range(shape.n_reduces):
        t0 = red0 + rng.randint(0, int(dur * 0.1))
        last = max(last, job.task("REDUCE", n, t0, work0 + dur - t0))
    fin = job.aux_task("CLEANUP", shape.n_maps + 1, last + 500, "cleanup") + 350

    name = f"PigLatin:{rng.choice(('kmerStats', 'wordCount', 'join=wide'))}.pig"
    job_counters = _counters([("Job Counters ", "Job Counters ",
                               [("TOTAL_LAUNCHED_MAPS", "Launched map tasks", shape.n_maps)])])
    for t, pairs in [
        (submit, [("JOBNAME", _esc(name)), ("USER", user), ("SUBMIT_TIME", str(submit)),
                  ("JOBCONF", _esc(f"hdfs://nn:8020/jobs/{jobid}/job.xml"))]),
        (submit, [("JOB_PRIORITY", "NORMAL")]),
        (launch, [("LAUNCH_TIME", str(launch)), ("TOTAL_MAPS", str(shape.n_maps)),
                  ("TOTAL_REDUCES", str(shape.n_reduces)), ("JOB_STATUS", "PREP")]),
        (launch + 1, [("JOB_STATUS", "RUNNING")]),
        (fin, [("FINISH_TIME", str(fin)), ("JOB_STATUS", "SUCCESS"),
               ("FINISHED_MAPS", str(shape.n_maps)), ("FINISHED_REDUCES", str(shape.n_reduces)),
               ("FAILED_MAPS", str(job.failed["MAP"])),
               ("FAILED_REDUCES", str(job.failed["REDUCE"])), ("COUNTERS", job_counters)]),
    ]:
        job.emit(t, "Job", [("JOBID", jobid)] + pairs)
    job.events.sort(key=lambda e: (e[0], e[1]))
    records = [(ev, pairs) for _t, _o, ev, pairs in job.events]

    lines = ['Meta VERSION="1" .']
    lines += [ev + " " + " ".join(f'{k}="{v}"' for k, v in pairs) + " ." for ev, pairs in records]
    text = "\n".join(lines) + "\n"
    if shape.unterminated:
        # dropped by the parser: never " ."-terminated before EOF
        text += f'Job JOBID="{jobid}" JOB_STATUS="KILLED" FINISH_TIME="{fin + 5}"\n'
    return text, _model(records, len(lines))


def _model(records: list[tuple[str, list[tuple[str, str]]]], n_records: int) -> JobModel:
    """Fold the records in file order, the reference way."""
    job: dict[str, str] = {}
    tasks: dict[str, dict[str, str]] = defaultdict(dict)
    attempts: dict[str, dict] = {}
    for seq, (ev, pairs) in enumerate(records):
        attrs = dict(pairs)  # duplicate keys: last write wins
        if ev == "Job":
            job.update(attrs)
        elif ev == "Task":
            tasks[attrs["TASKID"]].update(attrs)
        else:
            a = attempts.setdefault(attrs["TASK_ATTEMPT_ID"], {"kind": ev})
            a.update(attrs)
            a["kind"] = ev
            if "FINISH_TIME" in attrs:
                a["_finish_seq"] = seq
    m = JobModel(job["JOBID"], job["USER"], int(job["SUBMIT_TIME"]),
                 int(job["FINISH_TIME"]), n_records)
    for t in tasks.values():
        m.tasks[t["TASK_TYPE"]] += 1
        m.finished[t["TASK_TYPE"]] += "FINISH_TIME" in t
        m.reduces_with_counters += t["TASK_TYPE"] == "REDUCE" and "COUNTERS" in t
    final_of: dict[str, tuple[int, str]] = {}
    for aid, a in attempts.items():
        m.attempts[a["TASK_TYPE"]] += 1
        if (a.get("TASK_STATUS") == "SUCCESS" and "FINISH_TIME" in a
                and a["TASK_TYPE"] in ("MAP", "REDUCE")):
            prev = final_of.get(a["TASKID"])
            if prev is None or a["_finish_seq"] > prev[0]:
                final_of[a["TASKID"]] = (a["_finish_seq"], aid)
    finals = {aid for _s, aid in final_of.values()}
    m.finals = len(finals)
    for aid, a in attempts.items():
        if a.get("TASK_STATUS") in ("FAILED", "KILLED") or "ERROR" in a:
            m.error_groups.add(
                (a["TASK_TYPE"], a.get("TASK_STATUS"), _error_class(a.get("ERROR"))))
        if a["TASK_TYPE"] not in ("MAP", "REDUCE") or "FINISH_TIME" not in a:
            continue
        final = aid in finals
        m.wasted[a["TASK_TYPE"]] += not final
        start = int(a["START_TIME"]) if a.get("START_TIME", "0") != "0" else None

        def ms(key: str) -> int | None:
            return int(a[key]) if key in a else None

        m.intervals.append((aid, a["kind"], final, start, int(a["FINISH_TIME"]),
                            ms("SHUFFLE_FINISHED"), ms("SORT_FINISHED")))
    return m
