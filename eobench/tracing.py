"""Spans recorded by the benchmark's own code, Spark job tagging, and the
join of Spark's event log to those spans.

A span is (id, name, parent, start, end, attrs); times are epoch seconds so
they line up with the event log's epoch-millisecond task times.  While a
span is open its id is the Spark job group, so every job it triggers (and
every stage and task of those jobs) can be attributed to it afterwards.
Spans stay in memory and are joined to the event log once the session has
stopped and the log is complete.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from pathlib import Path

from stats import idle_time, self_time

GROUP_PREFIX = "eob-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        yield attrs


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp.attrs
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(
        self,
        owner: object,
        attr: str,
        name: Callable[..., str] | str,
        before: Callable[[dict, tuple, dict], None] | None = None,
        after: Callable[[dict, object, tuple, dict], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that runs the original inside
        a span; ``unwrap_all`` restores it.  ``name`` may derive the span
        name from the call's arguments; ``before(attrs, args, kwargs)`` and
        ``after(attrs, result, args, kwargs)`` may record span attributes."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            sname = name(*args, **kwargs) if callable(name) else name
            with self.span(sname) as attrs:
                if before is not None:
                    before(attrs, args, kwargs)
                result = orig(*args, **kwargs)
                if after is not None:
                    after(attrs, result, args, kwargs)
                return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def subtree_groups(self, sp: Span) -> set[str]:
        out = {sp.group}
        for c in self.children(sp):
            out |= self.subtree_groups(c)
        return out

    def self_time(self, sp: Span) -> float:
        """Span wall time not covered by its child spans."""
        return self_time(sp.start, sp.end, [(c.start, c.end) for c in self.children(sp)])


# ------------------------------------------------------------- event log
@dataclass
class Task:
    stage: int
    launch: float  # epoch s
    finish: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    failed: bool

    @property
    def wall(self) -> float:
        return self.finish - self.launch


@dataclass
class EventLog:
    jobs: dict[int, str | None]  # job id -> job group
    stage_group: dict[int, str | None]
    stage_scopes: dict[int, set[str]]  # operator scope names of the stage's RDDs
    tasks: list[Task]

    def tasks_in(self, groups: set[str]) -> list[Task]:
        return [t for t in self.tasks if self.stage_group.get(t.stage) in groups]

    def jobs_in(self, groups: set[str]) -> int:
        return sum(1 for g in self.jobs.values() if g in groups)


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


def parse_event_log(lines: Iterator[str]) -> EventLog:
    """Parse Spark's JSON-lines event log into jobs, stage groups and tasks.

    A stage takes its job group from the properties it was submitted with;
    a stage whose submission carried none falls back to the first job that
    listed it."""
    jobs: dict[int, str | None] = {}
    stage_first_job: dict[int, int] = {}
    stage_group: dict[int, str | None] = {}
    stage_scopes: dict[int, set[str]] = {}
    tasks: list[Task] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_first_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[sid] = group
            stage_scopes.setdefault(sid, set()).update(_scope_names(info))
        elif kind == "SparkListenerTaskEnd":
            ti = ev["Task Info"]
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch=ti["Launch Time"] / 1000.0,
                    finish=ti["Finish Time"] / 1000.0,
                    gc_s=tm.get("JVM GC Time", 0) / 1000.0,
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    failed=bool(ti.get("Failed")) or bool(ti.get("Killed")),
                )
            )
    for sid, jid in stage_first_job.items():
        if stage_group.get(sid) is None:
            stage_group[sid] = jobs.get(jid)
    return EventLog(jobs, stage_group, stage_scopes, tasks)


def read_event_log(log_dir: Path) -> EventLog:
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    with files[0].open() as fh:
        return parse_event_log(fh)


@dataclass
class SpanCost:
    """Spark work attributed to one span and its descendants."""

    wall_s: float
    jobs: int
    tasks: int
    task_s: float
    idle_s: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    failed_tasks: int


def span_cost(tracer: Tracer, log: EventLog, sp: Span) -> SpanCost:
    groups = tracer.subtree_groups(sp)
    ts = log.tasks_in(groups)
    return SpanCost(
        wall_s=sp.wall,
        jobs=log.jobs_in(groups),
        tasks=len(ts),
        task_s=sum(t.wall for t in ts),
        idle_s=idle_time(sp.start, sp.end, [(t.launch, t.finish) for t in ts]),
        gc_s=sum(t.gc_s for t in ts),
        shuffle_read=sum(t.shuffle_read for t in ts),
        shuffle_write=sum(t.shuffle_write for t in ts),
        spill=sum(t.spill for t in ts),
        failed_tasks=sum(1 for t in ts if t.failed),
    )
