"""Per-layer tracing from outside the program.

Spans are recorded by wrapping the public entry points of each
``mutable_spark`` module in place (the program itself is not edited), and
Spark-side numbers are read from Spark's own trackers after each
operation: the status store for jobs and stages, ``QueryPlanningTracker``
for Catalyst phases and ``CodegenMetrics`` for compiles.

A span's self time is its duration minus the part of its interval that
its child spans cover; self times of all spans in an operation add up to
the time the trace explains.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float | None = None
    parent: "Span | None" = None
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span) -> float:
    return span.duration - covered(
        [(c.start, c.end) for c in span.children if c.end is not None],
        span.start,
        span.end if span.end is not None else span.start,
    )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Sum of self time (seconds) per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + self_time(s)
    return out


class Tracer:
    """Collects spans when enabled; a disabled tracer adds no work beyond
    one attribute test per wrapped call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: every span recorded, in start order; callers slice it by index
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.counts: dict[str, float] = {}

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent)
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` (a module or class attribute, or a dict
        item) by a wrapper recording a span ``name`` around each call.
        A probe ``after`` is called as ``after(result, after.before(*args),
        *args)`` to record counts."""
        is_dict = isinstance(owner, dict)
        fn = owner[attr] if is_dict else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            state = after.before(*args, **kwargs) if after is not None else None
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(result, state, *args, **kwargs)
            return result

        if is_dict:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


class _TableCacheProbe:
    """Counts catalog table-cache hits: a hit leaves the cache size as is."""

    def __init__(self, tracer, catalog):
        self.tracer, self.catalog = tracer, catalog

    def before(self, *a, **k):
        return len(self.catalog._TABLE_CACHE)

    def __call__(self, result, size_before, *a, **k):
        self.tracer.count("catalog.load_calls")
        if len(self.catalog._TABLE_CACHE) == size_before:
            self.tracer.count("catalog.table_cache_hits")


def _entries(d: Path) -> set[str]:
    """Finished entries of a cache directory (builds in progress start
    with a dot)."""
    return {n for n in os.listdir(d) if not n.startswith(".")} if d.exists() else set()


class _RelayoutProbe:
    """Counts the parquet files of relayout copies a call wrote."""

    def __init__(self, tracer, catalog):
        self.tracer, self.catalog = tracer, catalog

    def before(self, *a, **k):
        return _entries(self.catalog._RELAYOUT_DIR)

    def __call__(self, result, seen, *a, **k):
        d = self.catalog._RELAYOUT_DIR
        for n in _entries(d) - seen:
            self.tracer.count("catalog.relayout_files", len(list((d / n).glob("*.parquet"))))


class _StageProbe:
    """IMPORT materialization: a call that adds a stage directory built it;
    a call over a source at or above the threshold that adds none hit."""

    def __init__(self, tracer, dsv):
        self.tracer, self.dsv = tracer, dsv

    def before(self, *a, **k):
        return _entries(self.dsv._STAGE_DIR)

    def __call__(self, result, seen, spark, df, source_path, key_parts):
        d = self.dsv._STAGE_DIR
        new = _entries(d) - seen
        if new:
            self.tracer.count("sources.stage_builds")
            self.tracer.count("sources.materialized_bytes", sum(_dir_bytes(d / n) for n in new))
            return
        size = sum(f.stat().st_size for f in self.dsv._source_files(source_path))
        if size >= self.dsv._MATERIALIZE_MIN_BYTES:
            self.tracer.count("sources.stage_hits")


def install(tracer: Tracer, builder_names=()) -> None:
    """Wrap each layer's entry points. Call before the workload starts;
    the wrappers stay for the life of the process."""
    from mutable_spark import catalog, registry, session
    from mutable_spark.dialect import compiler, engine, parser
    from mutable_spark.sources import dsv

    tracer.wrap(session, "get_spark", "session.start")
    tracer.wrap(catalog, "load_table", "catalog.load", _TableCacheProbe(tracer, catalog))
    tracer.wrap(catalog, "_maybe_relayout", "catalog.relayout", _RelayoutProbe(tracer, catalog))
    tracer.wrap(parser, "tokenize", "dialect.lex")
    tracer.wrap(engine, "parse", "dialect.parse")
    tracer.wrap(compiler, "check_stmt", "dialect.sema")
    tracer.wrap(compiler.Compiler, "compile_select", "dialect.compile")
    tracer.wrap(engine.Engine, "execute", "dialect.execute")
    tracer.wrap(dsv, "import_dsv", "sources.import")
    tracer.wrap(dsv, "materialize_import", "sources.materialize", _StageProbe(tracer, dsv))
    for name in builder_names:
        tracer.wrap(registry.QUERIES, name, "builder")


def memo_entries() -> int:
    """Entries in the expression memos of ``mutable_spark.functions``; the
    growth over an operation is its memo misses."""
    from mutable_spark import functions

    return len(functions._EXPR_MEMO) + len(functions._DOT_EXPR_CACHE)


class SparkProbe:
    """Reads Spark's trackers for the jobs of one job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.cores = self.sc.defaultParallelism
        self._codegen = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def codegen_compiles(self) -> int:
        return self._codegen.METRIC_COMPILATION_TIME().getCount()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> dict[str, float]:
        store = self.jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
            0.0,
        )
        intervals = []
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            for sid in tracker.getJobInfo(jid).stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage (shuffle reused): no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["wall_ms"] = covered(intervals, float("-inf"), float("inf"))
        return out

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        out = {}
        for k in ("analysis", "optimization", "planning"):
            out[k] = phases.apply(k).durationMs() if phases.contains(k) else 0.0
        out["plan_nodes"] = len(qe.optimizedPlan().treeString().splitlines())
        return out


#: span name → the per-operation metric its self time reports
SPAN_METRIC = {
    "dialect.lex": "dialect.lex_ms",
    "dialect.parse": "dialect.parse_ms",
    "dialect.sema": "dialect.sema_ms",
    "dialect.compile": "dialect.compile_ms",
    "builder": "builder.ms",
}
