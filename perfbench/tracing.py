"""Measurement plumbing: spans, Spark's own metrics, process RSS, host steal.

Everything here observes the engine from outside: spans wrap the
benchmark's calls into the package, and operator-level numbers are read
back from the JVM status stores after the calls return (both stores are
populated with `spark.ui.enabled=false`). Nothing is added to the package.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# timing under host steal
# ---------------------------------------------------------------------------


@contextmanager
def stopwatch():
    """Time the block. The yielded dict gets `wall_s`; `steal_ratio`, the
    share of the VM's CPU demand the hypervisor stole while the block ran
    (plans.hostnoise); and `seconds` = wall_s * (1 - steal_ratio), the time
    the block would have taken with no CPU stolen. On a host that steals
    nothing the two times are equal. The benchmark's passes keep every
    core busy, so stolen CPU stretches them in proportion: on a 4-core VM
    whose steal swung from 1% to 48% between runs, the adjusted warm pass
    times of ten seeds spread 0.085 of their median, the wall times 0.33."""
    from openaip_yaixm_to_geojson_spark.plans.hostnoise import cpu_ticks, steal_meta

    out: dict[str, float] = {}
    ticks = cpu_ticks()
    start = time.perf_counter()
    try:
        yield out
    finally:
        out["wall_s"] = time.perf_counter() - start
        out["steal_ratio"] = steal_meta(ticks, cpu_ticks())["steal_ratio"]
        out["seconds"] = out["wall_s"] * (1.0 - out["steal_ratio"])


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    span_id: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. Spans carry wall-clock (epoch) times so they
    can be matched against Spark's execution submission times."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), float("nan"), parent, self.run_id, span_id))
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[span_id].end = time.time()

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of the interval its children cover."""
        covered = 0.0
        cursor = span.start
        for child in sorted((s for s in self.spans if s.parent == span.span_id), key=lambda s: s.start):
            lo, hi = max(child.start, cursor), min(child.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.seconds - covered

    def _inside(self, s: Span, outer: Span) -> bool:
        while s is not None:
            if s.span_id == outer.span_id:
                return True
            s = self.spans[s.parent] if s.parent is not None else None
        return False

    def to_records(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                "span_id": s.span_id,
                "self_s": self.self_seconds(s),
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Spark SQL metrics (per execution) and task totals (per stage)
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^-?[\d,]+(\.\d+)?$")


def parse_metric(text: str) -> float | None:
    """A status-store metric string -> number (bytes, seconds or a count),
    or None if it is not one. Aggregated metrics read
    'total (min, med, max ...)\\n<total> (...)' (or 'avg ...')."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    text = text.strip()
    if _NUM.match(text):
        return float(text.replace(",", ""))
    value, _, unit = text.partition(" ")
    try:
        number = float(value.replace(",", ""))
    except ValueError:
        return None
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    return None


@dataclass
class PlanNode:
    node_id: int
    name: str
    desc: str
    metrics: dict[str, float]


@dataclass
class Execution:
    execution_id: int
    submitted: float  # epoch seconds
    description: str
    nodes: dict[int, PlanNode]
    edges: list[tuple[int, int]]  # (child id, parent id)

    def named(self, prefix: str) -> list[PlanNode]:
        return [n for n in self.nodes.values() if n.name.startswith(prefix)]

    def parents_of(self, node: PlanNode) -> list[PlanNode]:
        return [self.nodes[p] for c, p in self.edges if c == node.node_id]


def _drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def executions_since(spark, after_id: int) -> list[Execution]:
    """SQL executions with id > `after_id`, with their plan graph and the
    parsed value of every node metric."""
    _drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    found = store.executionsList()
    out = []
    for i in range(found.size()):
        ui = found.apply(i)
        eid = ui.executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = {}
        all_nodes = graph.allNodes()
        for j in range(all_nodes.size()):
            n = all_nodes.apply(j)
            metrics = {}
            ms = n.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                number = parse_metric(v.get()) if v.isDefined() else None
                if number is not None:
                    metrics[m.name()] = number
            nodes[n.id()] = PlanNode(n.id(), n.name().strip(), n.desc(), metrics)
        edges = graph.edges()
        out.append(
            Execution(
                eid,
                ui.submissionTime() / 1000.0,
                ui.description(),
                nodes,
                [(edges.apply(k).fromId(), edges.apply(k).toId()) for k in range(edges.size())],
            )
        )
    return out


def last_execution_id(spark) -> int:
    _drain_listener_bus(spark)
    found = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((found.apply(i).executionId() for i in range(found.size())), default=-1)


def stage_totals(spark, since: float) -> dict[str, float]:
    """Task totals over stages submitted at or after epoch `since`: run
    time, GC time, shuffle bytes written and spill, from the app status
    store (exact numbers, not display strings)."""
    _drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
    totals = {"task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
    for i in range(stages.size()):
        s = stages.apply(i)
        sub = s.submissionTime()
        if not sub.isDefined() or sub.get().getTime() / 1000.0 < since:
            continue
        totals["task_s"] += s.executorRunTime() / 1000.0
        totals["gc_s"] += s.jvmGcTime() / 1000.0
        totals["shuffle_bytes"] += s.shuffleWriteBytes()
        totals["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return totals


def cached_storage(spark) -> tuple[float, int]:
    """(bytes, blocks) held by persisted RDDs/DataFrames right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    total, blocks = 0.0, 0
    for info in infos:
        total += info.memSize() + info.diskSize()
        blocks += info.numCachedPartitions()
    return total, blocks


# ---------------------------------------------------------------------------
# process memory and host steal
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _cpu_ticks(pid: int) -> int:
    """utime + stime of `pid` and of its reaped children, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(v) for v in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and its live descendants."""
    ticks = sum(_cpu_ticks(pid) for pid in [root, *descendants(root)])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root: int) -> int:
    """RSS of `root` and all its descendants (JVM + Python workers)."""
    return sum(_rss_bytes(pid) for pid in [root, *descendants(root)])


class RssSampler:
    """Background sampler of the JVM process tree's RSS; keeps the peak of
    the current window (`begin()` opens one)."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.root: int | None = None
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, root: int) -> None:
        self.root = root
        self._thread.start()

    def begin(self) -> None:
        self.peak = tree_rss_bytes(self.root)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
