"""Spans around the benchmark's calls into the program, with Spark's
counters attributed to each span.

Each operation span runs under its own Spark job group.  After the span
closes, the job ids that ``statusTracker`` lists for the group are fetched
one by one from the Spark UI REST API on loopback, together with their
stages, so every job and stage the span caused is counted.  A job the
tracker lists, or a stage of it, that REST cannot return (evicted by
``spark.ui.retained*``) is counted in ``missing`` instead of silently dropped.

Span arithmetic: a span's self time is its wall minus the wall of its child
spans; per pass, the self times of every span plus the pass's unattributed
remainder (time between operation spans) equal the pass wall.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

JOB_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    t0: float
    t1: float = 0.0
    epoch0: float = 0.0
    epoch1: float = 0.0
    group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → wall minus the wall of its direct children."""
    child_wall: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall
    return {s.id: s.wall - child_wall.get(s.id, 0.0) for s in spans}


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class Tracer:
    """Collects spans in memory; ``write`` dumps them as JSON lines."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[Span] = []
        self.missing = 0
        self._ids = itertools.count()
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, job_group: bool = False):
        s = Span(
            next(self._ids), name, layer,
            self._stack[-1] if self._stack else None,
            time.perf_counter(), epoch0=time.time(),
        )
        saved = None
        if job_group:
            s.group = f"perfbench-span-{s.id}"
            saved = {k: self.sc.getLocalProperty(k) for k in JOB_GROUP_KEYS}
            self.sc.setJobGroup(s.group, f"{layer}:{name}")
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.t1, s.epoch1 = time.perf_counter(), time.time()
            self._stack.pop()
            if saved is not None:
                for k, v in saved.items():
                    self.sc.setLocalProperty(k, v)
            self.spans.append(s)

    # -- REST ------------------------------------------------------------

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self.base + path, timeout=10) as r:
                return json.load(r)
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def _settled_job(self, jid: int, deadline: float):
        """REST job record once the listener has posted its end (the action
        returns before the status store sees the job-end event)."""
        while True:
            job = self._get(f"/jobs/{jid}")
            if job is None or job.get("status") != "RUNNING" or time.time() > deadline:
                return job
            time.sleep(0.02)

    def storage_bytes(self) -> int:
        rdds = self._get("/storage/rdd") or []
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)

    def attribute(self, s: Span) -> None:
        """Fill ``s.counters`` with the Spark work of the span's job group."""
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(s.group))
        deadline = time.time() + 5.0
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0
        )
        intervals = []
        for jid in ids:
            job = self._settled_job(jid, deadline)
            if job is None:
                self.missing += 1
                continue
            c["jobs"] += 1
            a, b = _rest_time(job.get("submissionTime")), _rest_time(job.get("completionTime"))
            if a is not None:
                intervals.append((max(a, s.epoch0), min(b or s.epoch1, s.epoch1)))
            for sid in job.get("stageIds", ()):
                attempts = self._get(f"/stages/{sid}")
                if attempts is None:
                    self.missing += 1
                    continue
                for st in attempts:
                    if st.get("status") == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                    c["task_s"] += st.get("executorRunTime", 0) / 1e3
                    c["task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    c["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                    c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    c["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        busy = union_length([iv for iv in intervals if iv[1] > iv[0]])
        c["driver_gap_s"] = max(0.0, s.wall - busy)
        job_span = (max(b for _, b in intervals) - min(a for a, _ in intervals)) if intervals else 0.0
        c["slot_util"] = c["task_s"] / (self.cores * job_span) if job_span > 0 else 0.0
        c["first_job_offset_s"] = (min(a for a, _ in intervals) - s.epoch0) if intervals else s.wall
        s.counters.update(c)

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda x: x.t0):
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name, "layer": s.layer,
                    "t0": s.t0, "t1": s.t1, "wall_s": s.wall, "self_s": selfs[s.id],
                    "job_group": s.group, "counters": s.counters,
                }) + "\n")


def dedup_pair_counts(df) -> tuple[int, int]:
    """(candidate pairs, verified pairs) from the SQL metrics of ``df``'s
    executed plan, read after its action.

    Candidates are the rows out of the final ``distinct`` over
    ``(id_a, id_b)``: an aggregate with exactly those grouping keys and no
    functions.  Verified pairs are the rows out of the nearest node above it
    that checks the verification score: a filter, or a join whose condition
    carries the score predicate.  These are SQL metrics, so a stage that ran
    twice counts twice.  The Spark UI's per-node list
    carries the same row counts but neither keys nor predicates, so the
    nodes are identified on the plan itself.
    """
    cands: list[tuple[int, int]] = []
    for node, ancestors in _walk(df._jdf.queryExecution().executedPlan(), ()):
        if node.getClass().getSimpleName() != "HashAggregateExec":
            continue
        keys = sorted(str(e.name()) for e in _seq(node.groupingExpressions()))
        if keys != ["id_a", "id_b"] or node.aggregateExpressions().size() != 0:
            continue
        checks = [a for a in ancestors if _is_score_check(a)]
        cands.append((_rows(node), _rows(checks[-1]) if checks else 0))
    # the partial and final aggregates share keys; the final one has fewer rows
    return min(cands) if cands else (0, 0)


def _is_score_check(node) -> bool:
    name = node.getClass().getSimpleName()
    if name == "FilterExec":
        return True
    return name.endswith("JoinExec") and not node.condition().isEmpty()


def _walk(node, ancestors):
    """Pre-order walk yielding (node, ancestors), through the AQE wrappers
    that hide the executed subtree behind accessors instead of children."""
    yield node, ancestors
    below = ancestors + (node,)
    name = node.getClass().getSimpleName()
    kids = _seq(node.children())
    if name == "AdaptiveSparkPlanExec":
        kids.append(node.executedPlan())
    elif name.endswith("QueryStageExec"):
        kids.append(node.plan())
    for k in kids:
        yield from _walk(k, below)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _rows(node) -> int:
    m = node.metrics().get("numOutputRows")
    return int(m.get().value()) if not m.isEmpty() else 0
