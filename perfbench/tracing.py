"""Spans, wrappers and Spark counters for the benchmark's traced run.

The traced run wraps public functions of the engine by attribute patching
from here, so no engine file changes.  Spans are kept in memory (name,
start, end, parent, op id, thread) and written when the run ends.  A
layer's self time is its span's duration minus the part of that interval
its child spans cover.

The untraced run creates no ``Tracer`` and patches nothing; it only reads
Spark's own counters (job groups, status store, codegen totals), which
exist whether or not anyone reads them.
"""

from __future__ import annotations

import importlib
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# (module, attribute path, span name).  Each is a public entry point of one
# engine layer; the span name is the layer the time is booked to.
TARGETS = (
    ("arcadedb_spark.sql.parser", "parse", "sql.parse"),
    ("arcadedb_spark.sql.translator", "Translator.translate", "sql.translate"),
    ("arcadedb_spark.sql.commands", "execute_command", "sql.command"),
    ("arcadedb_spark.graph.cypher", "cypher_query", "cypher.build"),
    ("arcadedb_spark.graph.gremlin", "gremlin_query", "gremlin.build"),
    ("arcadedb_spark.graphql.engine", "graphql_query", "graphql.build"),
    ("arcadedb_spark.sql.mongo", "mongo_query", "mongo.build"),
    ("arcadedb_spark.select.builder", "SelectBuilder.df", "select.build"),
    ("arcadedb_spark.catalog", "TypeDef.df", "catalog.type_df"),
    ("arcadedb_spark.graph.model", "GraphModel.from_database", "graph.model_build"),
    ("arcadedb_spark.graph.traverse", "traverse", "algo.traverse"),
    ("arcadedb_spark.graph.algorithms", "louvain", "algo.louvain"),
    ("arcadedb_spark.caching", "bounded_cache", "cache.bounded_cache"),
    ("pyspark.sql", "DataFrame.truncate_plan", "lineage.truncate"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    thread: str


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.end - s.start - covered)
    return out


class Tracer:
    """In-memory span recorder with attribute-patching wrappers."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self.py4j_calls = 0
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def begin(self, name: str) -> int:
        stack = self._stacks[threading.get_ident()]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(
                name, time.perf_counter(), 0.0, stack[-1] if stack else None,
                self.op, threading.current_thread().name,
            ))
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stacks[threading.get_ident()].pop()

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield idx
        finally:
            self.end(idx)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    # -- wrappers ----------------------------------------------------------
    def _patch(self, owner, attr: str, name: str) -> None:
        raw = owner.__dict__[attr] if attr in getattr(owner, "__dict__", {}) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer.call(name, fn, *args, **kwargs)

        wrapper.__wrapped__ = fn
        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._patches.append((owner, attr, raw))

    def install(self) -> None:
        for module, path, name in TARGETS:
            self._patch(*_resolve(module, path), name)

    def count_py4j(self, gateway_client) -> None:
        send = gateway_client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        gateway_client.send_command = counting_send
        self._patches.append((gateway_client, "send_command", None))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            if raw is None:
                delattr(owner, attr)  # drop the instance override
            else:
                setattr(owner, attr, raw)

    # -- summaries ---------------------------------------------------------
    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, "thread": s.thread, "self": t}
            for s, t in zip(self.spans, selfs)
        ]


def _resolve(module: str, path: str) -> tuple[object, str]:
    owner = importlib.import_module(module)
    *parents, attr = path.split(".")
    for p in parents:
        owner = getattr(owner, p)
    return owner, attr


def installed_wrappers() -> list[str]:
    """Names of TARGETS currently replaced by a wrapper."""
    out = []
    for module, path, name in TARGETS:
        owner, attr = _resolve(module, path)
        raw = owner.__dict__.get(attr, getattr(owner, attr))
        fn = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw
        if hasattr(fn, "__wrapped__"):
            out.append(name)
    return out


class SparkCounters:
    """Read Spark's own counters: jobs by job group, stage task/shuffle
    totals from the status store, Catalyst phase times from a query's
    tracker, and process-wide codegen totals."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._groups = 0

    def group(self, label: str) -> str:
        self._groups += 1
        gid = f"{label}#{self._groups}"
        self.sc.setJobGroup(gid, label)
        return gid

    def jobs(self, gid: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stage_totals(self, job_ids: list[int]) -> dict[str, int]:
        tot = dict(stages=0, tasks=0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0)
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage: never ran
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped (its shuffle output was reused)
                tot["stages"] += 1
                tot["tasks"] += st.numTasks()
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def catalyst_ms(self, df) -> dict[str, float]:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, total compile ms) since JVM start."""
        pkg = self.jvm.org.apache.spark
        n = pkg.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        ns = pkg.sql.execution.WholeStageCodegenExec.codeGenTime()
        return int(n), ns / 1e6

    def cache(self) -> tuple[int, int]:
        """(persisted RDDs, their bytes in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
