"""Spans around the library's public calls, and the Spark status-store
readout that turns them into per-layer metrics.

A traced call runs with wrappers installed on the public entry points of
each layer (``algorithms.pagerank``/``connected_components``,
``Pregel.run``, ``truncate_plan`` under both of its bindings,
``CheckpointStore.write``) plus the benchmark's own extraction spans.
Each span tags the Spark jobs it submits with ``setJobGroup``; after the
call the listener bus is drained and every job's stages are read from
Spark's in-process status store (works with ``spark.ui.enabled=false``).
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time
from dataclasses import dataclass, field

TRUNCATE_PREGEL = "truncate_plan[pregel]"
TRUNCATE_ALGORITHMS = "truncate_plan[algorithms]"
PREGEL_RUN = "pregel.run"
CHECKPOINT_WRITE = "checkpoint.write"
PAGERANK = "algorithms.pagerank"
CC_LABEL = "algorithms.connected_components[label]"
CC_STAR = "algorithms.connected_components[star]"
EXTRACT_LINKS = "extract.links"
EXTRACT_TEXT = "extract.text"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


@dataclass
class Stage:
    id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    shuffle_write_records: int
    spill_bytes: int
    fetch_wait_s: float
    output_bytes: int
    attempt: int


@dataclass
class Job:
    group: str
    submit: float
    end: float
    stages: list[Stage]


class JobGroups:
    """Tags jobs with a group id; reads them back from the status store."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()

    def set(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, groups: set[str]) -> list[Job]:
        """Jobs of ``groups`` with their completed stages, in job order."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out, seen = [], set()
        it = store.jobsList(None).iterator()
        raw = []
        while it.hasNext():
            j = it.next()
            grp = j.jobGroup()
            if grp.isDefined() and grp.get() in groups:
                raw.append(j)
        raw.sort(key=lambda j: j.jobId())
        for j in raw:
            submit = j.submissionTime().get().getTime() / 1000.0
            end = (j.completionTime().get().getTime() / 1000.0
                   if j.completionTime().isDefined() else submit)
            stages = []
            sids = j.stageIds().iterator()
            while sids.hasNext():
                sid = sids.next()
                if sid in seen:
                    continue
                s = store.lastStageAttempt(sid)
                if str(s.status()) != "COMPLETE":
                    continue  # skipped: its output was reused
                seen.add(sid)
                stages.append(Stage(
                    id=sid,
                    attempt=s.attemptId(),
                    tasks=s.numCompleteTasks(),
                    run_s=s.executorRunTime() / 1e3,
                    cpu_s=s.executorCpuTime() / 1e9,
                    gc_s=s.jvmGcTime() / 1e3,
                    shuffle_write_bytes=s.shuffleWriteBytes(),
                    shuffle_write_records=s.shuffleWriteRecords(),
                    spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
                    output_bytes=s.outputBytes(),
                ))
            out.append(Job(j.jobGroup().get(), submit, end, stages))
        return out

    def task_skew(self, stage: Stage) -> float:
        """max / median task run time of one stage."""
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = self.jsc.statusStore().taskSummary(stage.id, stage.attempt, qs)
        if not dist.isDefined():
            return 1.0
        run = dist.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0


def op_counters(jobs: list[Job]) -> dict:
    """The counters that must repeat exactly for the same code and input."""
    stages = [s for j in jobs for s in j.stages]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "shuffle_records": sum(s.shuffle_write_records for s in stages),
    }


class Tracer:
    """Records spans around the library's public calls for one op."""

    def __init__(self, groups: JobGroups, root: str):
        self.groups = groups
        self.root = root
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{self.root}.{len(self.spans)}", name,
                  parent.id if parent else None, time.time())
        self.spans.append(sp)
        if parent:
            parent.children.append(sp)
        self._stack.append(sp)
        self.groups.set(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                self.groups.set(self._stack[-1].id, self._stack[-1].name)
            else:
                self.groups.set(self.root, "op")

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name(kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)
        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Wrap the layers' public calls for the duration of the block."""
        from pregel_rs_spark import algorithms, pregel
        from pregel_rs_spark.plans.checkpoint import CheckpointStore

        targets = [
            (pregel, "truncate_plan", TRUNCATE_PREGEL),
            (algorithms, "truncate_plan", TRUNCATE_ALGORITHMS),
            (algorithms, "pagerank", PAGERANK),
            (algorithms, "connected_components",
             lambda kw: CC_STAR if kw.get("method") == "star" else CC_LABEL),
            (pregel.Pregel, "run", PREGEL_RUN),
            (CheckpointStore, "write", CHECKPOINT_WRITE),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        try:
            for obj, attr, name in targets:
                setattr(obj, attr, self._wrap(getattr(obj, attr), name))
            yield self
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": s.self_time}
            for s in self.spans
        ]


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def layer_metrics(tracer: Tracer, jobs: list[Job], wall: float,
                  cores: int, groups: JobGroups) -> dict:
    """Per-layer metrics of one traced op (see perfbench/README.md)."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)

    def subtree_jobs(sp: Span) -> list[Job]:
        out = list(by_group.get(sp.id, []))
        for c in sp.children:
            out += subtree_jobs(c)
        return out

    def stages_of(js):
        return [s for j in js for s in j.stages]

    def named(name):
        return [s for s in tracer.spans if s.name == name]

    m: dict[str, float] = {}

    # -- algorithms / graphframe: one-time preparation ----------------------
    m["algorithms.prep_s"] = sum(
        s.self_time for s in named(PAGERANK) + named(CC_LABEL))
    m["graphframe.degree_table_s"] = sum(
        c.dur for s in named(PAGERANK) for c in s.children
        if c.name == TRUNCATE_ALGORITHMS)

    # -- pregel: edge cache, then per-superstep intervals --------------------
    edge_cache = 0.0
    plan, mat, gap, period, njobs, skew = [], [], [], [], [], []
    step_stages = []
    for run in named(PREGEL_RUN):
        kids = sorted(run.children, key=lambda c: c.start)
        if kids:
            edge_cache += kids[0].start - run.start
        steps = [c for c in kids if c.name == TRUNCATE_PREGEL]
        writes = [c for c in kids if c.name == CHECKPOINT_WRITE]
        for prev, cur in zip(steps, steps[1:]):
            js = by_group.get(cur.id, [])
            between = sum(w.dur for w in writes
                          if prev.end <= w.start < cur.end)
            p = cur.end - prev.end - between
            if js:
                first = min(j.submit for j in js)
                last = max(j.end for j in js)
                pl, ma = max(first - cur.start, 0.0), last - first
            else:
                pl, ma = 0.0, 0.0
            plan.append(pl)
            mat.append(ma)
            gap.append(p - pl - ma)
            period.append(p)
            njobs.append(len(js))
            st = stages_of(js)
            step_stages += st
            if st:
                skew.append(groups.task_skew(max(st, key=lambda s: s.run_s)))
    supersteps = len(period)
    m["pregel.edge_cache_s"] = edge_cache
    m["pregel.supersteps"] = supersteps
    m["pregel.superstep_s"] = _median(period)
    m["pregel.plan_s"] = _median(plan)
    m["pregel.materialize_s"] = _median(mat)
    m["pregel.driver_gap_s"] = _median(gap)
    m["pregel.jobs_per_superstep"] = _median(njobs)
    m["pregel.shuffle_bytes_per_superstep"] = (
        sum(s.shuffle_write_bytes for s in step_stages) / supersteps
        if supersteps else 0.0)
    m["pregel.shuffle_records_per_superstep"] = (
        sum(s.shuffle_write_records for s in step_stages) / supersteps
        if supersteps else 0.0)
    m["pregel.task_skew"] = _median(skew, 1.0)
    m["pregel.gc_s"] = sum(s.gc_s for s in step_stages)
    m["pregel.spill_bytes"] = sum(s.spill_bytes for s in step_stages)
    m["pregel.fetch_wait_s"] = sum(s.fetch_wait_s for s in step_stages)
    busy = cores * sum(mat)
    m["pregel.cpu_util"] = (
        sum(s.cpu_s for s in step_stages) / busy if busy else 0.0)

    # -- checkpoint -----------------------------------------------------------
    writes = named(CHECKPOINT_WRITE)
    write_s = sum(w.dur for w in writes)
    m["checkpoint.writes"] = len(writes)
    m["checkpoint.write_s"] = write_s
    m["checkpoint.jobs_per_write"] = _median(
        [len(subtree_jobs(w)) for w in writes])
    m["checkpoint.bytes_written"] = sum(
        s.output_bytes for w in writes for s in stages_of(subtree_jobs(w)))
    runs_with_writes = sum(
        r.dur for r in named(PREGEL_RUN)
        if any(c.name == CHECKPOINT_WRITE for c in r.children))
    m["checkpoint.share"] = (
        write_s / runs_with_writes if runs_with_writes else 0.0)

    # -- star connected components (hand-rolled loop) -------------------------
    rounds, round_s, star_bytes = 0, [], 0
    for sp in named(CC_STAR):
        kids = sorted((c for c in sp.children if c.name == TRUNCATE_ALGORITHMS),
                      key=lambda c: c.start)
        n = max(len(kids) - 1, 0)  # the first materializes the edge set
        rounds += n
        if n:
            round_s.append((sp.end - kids[0].end) / n)
        star_bytes += sum(
            s.shuffle_write_bytes for s in stages_of(subtree_jobs(sp)))
    m["algorithms.star_rounds"] = rounds
    m["algorithms.star_round_s"] = _median(round_s)
    m["algorithms.star_shuffle_bytes"] = star_bytes

    # -- extraction -----------------------------------------------------------
    ext = named(EXTRACT_LINKS) + named(EXTRACT_TEXT)
    ext_stages = [s for sp in ext for s in stages_of(subtree_jobs(sp))]
    m["extract.links_s"] = sum(s.dur for s in named(EXTRACT_LINKS))
    m["extract.text_s"] = sum(s.dur for s in named(EXTRACT_TEXT))
    m["extract.task_s"] = sum(s.run_s for s in ext_stages)
    m["extract.cpu_s"] = sum(s.cpu_s for s in ext_stages)
    m["extract.shuffle_bytes"] = sum(s.shuffle_write_bytes for s in ext_stages)

    # -- whole op ---------------------------------------------------------------
    counters = op_counters(jobs)
    all_stages = stages_of(jobs)
    m["run.jobs"] = counters["jobs"]
    m["run.stages"] = counters["stages"]
    m["run.tasks"] = counters["tasks"]
    m["run.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in all_stages)
    m["run.gc_s"] = sum(s.gc_s for s in all_stages)

    # -- self times: they plus the unattributed remainder sum to the wall ------
    kinds = {
        "self.algorithms_s": (PAGERANK, CC_LABEL, CC_STAR),
        "self.pregel_run_s": (PREGEL_RUN,),
        "self.truncate_plan_s": (TRUNCATE_PREGEL, TRUNCATE_ALGORITHMS),
        "self.checkpoint_write_s": (CHECKPOINT_WRITE,),
        "self.extract_s": (EXTRACT_LINKS, EXTRACT_TEXT),
    }
    for key, names in kinds.items():
        m[key] = sum(s.self_time for s in tracer.spans if s.name in names)
    top = sum(s.dur for s in tracer.spans if s.parent is None)
    m["trace.unattributed_s"] = wall - top
    m["trace.wall_s"] = wall
    return m
