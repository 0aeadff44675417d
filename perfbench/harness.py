"""The three workloads: set-up, the timed closed loop (one client) and the
result checks that follow it."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from perfbench import check, data, trace
from perfbench import workloads as W


@dataclass
class Op:
    """One timed operation and what it returned."""

    kind: str
    name: str
    seconds: float
    error: str | None = None
    result: object = None  # pandas DataFrame of a read
    stmt: W.Statement | None = None
    layers: dict = field(default_factory=dict)


def _processes() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children and resident set (KiB) of every process, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * page_kb
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we read it
        children.setdefault(ppid, []).append(int(d))
    return children, rss


def _subtree(children: dict[int, list[int]], root: int) -> set[int]:
    out, todo = set(), list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> set[int]:
    """Every process started, directly or not, by ``root``."""
    return _subtree(_processes()[0], root)


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    Spark JVM and the Python workers), sampled from /proc. One sample
    walks every process (about 2 ms of Python), so it samples twice a
    second, not more, beside the measured operations."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        children, rss = _processes()
        return sum(rss.get(pid, 0) for pid in _subtree(children, root) | {root})

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))


class Runner:
    """Runs operations one at a time and, when tracing, reads each one's
    per-layer numbers right after it."""

    def __init__(self, spark, tracer: trace.Tracer):
        self.spark = spark
        self.tracer = tracer
        self.probe = trace.SparkProbe(spark) if tracer.enabled else None
        self._seq = 0

    def op(self, kind: str, name: str, construct, stmt=None) -> Op:
        """Time ``construct()`` and, for a read, the ``toPandas`` fetch of
        the DataFrame it returns; failures are recorded, not raised."""
        self._seq += 1
        traced, sc = self.tracer.enabled, self.spark.sparkContext
        if traced:
            mark = len(self.tracer.spans)
            sc.setJobGroup(f"pb-c-{self._seq}", name)
            memo0 = trace.memo_entries()
        df = pdf = None
        error = None
        fetch_span = None
        t0 = time.perf_counter()
        with self.tracer.span("op") as root:
            try:
                df = construct()
                if kind == "read":
                    if traced:
                        sc.setJobGroup(f"pb-a-{self._seq}", name)
                        cg0 = self.probe.codegen_compiles()
                    with self.tracer.span("fetch") as fetch_span:
                        pdf = df.toPandas()
            except Exception as e:  # the loop must go on; the failure is counted
                error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        seconds = time.perf_counter() - t0
        result = Op(kind, name, seconds, error, pdf, stmt)
        if traced:
            spans = self.tracer.spans[mark:]
            result.layers = self._layers(spans, root, fetch_span, df, pdf, memo0, cg0 if pdf is not None else None)
            sc.setJobGroup("pb-idle", "between operations")
        return result

    def _layers(self, spans, root, fetch_span, df, pdf, memo0, cg0) -> dict:
        probe = self.probe
        out = {
            trace.SPAN_METRIC[k]: v * 1000
            for k, v in trace.self_times(spans).items()
            if k in trace.SPAN_METRIC
        }
        out["functions.memo_misses"] = trace.memo_entries() - memo0
        probe.drain()
        eager = probe.jobs(f"pb-c-{self._seq}")
        out["builder.eager_jobs"] = eager["jobs"]
        out["builder.eager_tasks"] = eager["tasks"]
        out["builder.eager_run_ms"] = eager["run_ms"]
        out["dialect.execute_ms"] = sum(s.duration for s in spans if s.name == "dialect.execute") * 1000
        if fetch_span is not None and pdf is not None:
            final = probe.jobs(f"pb-a-{self._seq}")
            for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                out[f"exec.{k}"] = final[k]
            out["exec.job_wall_ms"] = final["wall_ms"]
            out["exec.idle_core_ms"] = final["wall_ms"] * probe.cores - final["run_ms"]
            out["exec.codegen_compiles"] = probe.codegen_compiles() - cg0
            action_ms = fetch_span.duration * 1000
            out["fetch.ms"] = max(action_ms - final["wall_ms"], 0.0)
            out["fetch.rows"] = len(pdf)
            out["fetch.bytes"] = int(pdf.memory_usage(deep=True).sum())
            cat = probe.catalyst(df)
            for k in ("analysis", "optimization", "planning"):
                out[f"catalyst.{k}_ms"] = cat[k]
            out["catalyst.plan_nodes"] = cat["plan_nodes"]
        explained = sum(
            trace.self_time(s) for s in spans if s.name not in ("op", "fetch")
        ) * 1000 + out.get("exec.job_wall_ms", 0.0) + out.get("fetch.ms", 0.0)
        out["trace.explained_ms"] = explained
        out["trace.op_ms"] = root.duration * 1000
        return out


class Checker:
    """Checks results against oracle rows, each distinct result once: a
    result whose quick digest equals one already found correct for the
    same oracle is correct too."""

    def __init__(self):
        self._want: dict[str, list] = {}
        self._good: dict[str, set] = {}

    def check(self, op: Op, key: str, oracle_rows) -> None:
        """Set ``op.error`` when its result differs from the oracle's;
        ``oracle_rows()`` runs the oracle, at most once per ``key``."""
        if op.error is not None:
            return
        quick = check.quick_digest(op.result)
        if quick in self._good.get(key, ()):
            return
        if key not in self._want:
            self._want[key] = check.normalized(list(op.result.columns), oracle_rows())
        got = check.normalized(list(op.result.columns), check.pandas_rows(op.result))
        reason = check.compare(got, self._want[key])
        if reason is None:
            self._good.setdefault(key, set()).add(quick)
        else:
            op.error = f"wrong result: {reason}"


# --------------------------------------------------------------------------
# set-up helpers


def start_session():
    from mutable_spark import session

    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --------------------------------------------------------------------------
# sql_olap


class SqlOlap:
    name = "sql_olap"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, runner: Runner):
        from mutable_spark.dialect import Engine

        import duckdb

        ctx = self.ctx
        with duckdb.connect() as con:
            self.paths = data.export_tpch(con, ctx.sf_dir, ctx.run_dir / "tpch")
        self.eng = Engine(runner.spark)
        for stmt in (W.TPCH_DIR / "schema.sql").read_text().split(";"):
            if stmt.strip():
                self.eng.execute(stmt)
        for table, path in self.paths.items():
            self.eng.execute(f'IMPORT INTO {table} DSV "{path}" DELIMITER "|"')
        self.warmup = W.olap_warmup(ctx.seed)
        for s in self.warmup:
            runner.op("read", s.template, lambda s=s: self.eng.execute(s.text), s)

    def units(self):
        yield from W.olap_blocks(self.ctx.seed, self.warmup)

    def run_unit(self, runner: Runner, block) -> list[Op]:
        return [
            runner.op("read", s.template, lambda s=s: self.eng.execute(s.text), s)
            for s in block
        ]

    def check(self, ops: list[Op]) -> None:
        """DuckDB answers each statement's oracle text over tables loaded
        from the same DSV files the engine IMPORTed."""
        import duckdb

        checker = Checker()
        with duckdb.connect() as con:
            data.tpch_twin(con, self.paths)
            for op in ops:
                text = op.stmt.oracle
                checker.check(op, text, lambda text=text: con.sql(text).fetchall())

    def properties(self, ops: list[Op]) -> dict:
        reads = [o for o in ops if o.kind == "read"]
        return {
            "templates": len(W.OLAP_TEMPLATES),
            "repeats_per_block": W.REPEATS_PER_BLOCK,
            "repeat_share": round(sum(o.stmt.repeat for o in reads) / max(len(reads), 1), 4),
        }


# --------------------------------------------------------------------------
# sql_ingest_dml


class SqlIngestDml:
    name = "sql_ingest_dml"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, runner: Runner):
        from mutable_spark.dialect import Engine

        self.shards = data.write_shards(self.ctx.seed, self.ctx.run_dir / "shards")
        self.eng = Engine(runner.spark)
        self.eng.execute("CREATE DATABASE ingest")
        self.eng.execute("USE ingest")
        self.epochs = W.dml_epochs(self.ctx.seed, self.shards)
        # one warm-up epoch: first-touch costs (JIT, the first IMPORT's
        # materialization) stay out of the timed loop
        self.run_unit(runner, next(self.epochs))

    def units(self):
        yield from self.epochs

    def run_unit(self, runner: Runner, epoch) -> list[Op]:
        return [
            runner.op(s.kind, s.template, lambda s=s: self.eng.execute(s.text), s)
            for s in epoch
        ]

    def check(self, ops: list[Op]) -> None:
        """Replay every statement on a DuckDB twin in the same order and
        compare each read with the twin's answer at that point."""
        import duckdb

        checker = Checker()
        with duckdb.connect() as con:
            for i, op in enumerate(ops):
                s = op.stmt
                if s.template == "import":
                    con.execute(data.dml_import_sql(s.oracle))
                elif s.kind == "read":
                    rows = con.sql(s.oracle).fetchall()
                    checker.check(op, str(i), lambda: rows)
                else:
                    con.execute(s.oracle)

    def properties(self, ops: list[Op]) -> dict:
        return {
            "cycles_per_epoch": W.DML_CYCLES,
            "insert_rows": W.DML_INSERT_ROWS,
            "shards": {n: r for n, r in W.DML_SHARDS},
        }


# --------------------------------------------------------------------------
# curation_batch


class CurationBatch:
    name = "curation_batch"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, runner: Runner):
        from mutable_spark import registry
        from mutable_spark.catalog import load_tables

        self.registry = registry
        load_tables(runner.spark, self.ctx.sf_dir)
        # several warm-up passes: pass times keep falling for about eight
        # passes as the JVM compiles the hot paths (3.8 s to 2.2 s on 4
        # cores), and the first passes fall fastest
        self.warmup = []
        for i in range(W.CURATION_WARMUP_PASSES):
            self.warmup = self.run_unit(runner, W.curation_pass(self.ctx.seed, i))
        self._pass = W.CURATION_WARMUP_PASSES - 1

    def units(self):
        while True:
            self._pass += 1
            yield W.curation_pass(self.ctx.seed, self._pass)

    def run_unit(self, runner: Runner, names) -> list[Op]:
        spark, sf = runner.spark, self.ctx.sf_dir
        ops = []
        for name in names:
            fn = self.registry.QUERIES[name]
            ops.append(runner.op("read", name, lambda fn=fn: fn(spark, sf)))
            # as bench.py does: no cached or checkpointed data outlives a query
            t0 = time.perf_counter()
            if runner.tracer.enabled:
                ops[-1].layers["cache.persisted_rdds"] = self.registry.persistent_rdd_count(spark)
            spark.catalog.clearCache()
            self.registry.release_caches(spark, blocking=False)
            if runner.tracer.enabled:
                ops[-1].layers["cache.release_ms"] = (time.perf_counter() - t0) * 1000
        return ops

    def check(self, ops: list[Op]) -> None:
        """Registered DuckDB oracles where they exist; otherwise the result
        must equal the warm-up pass's result of the same operator."""
        import duckdb

        from mutable_spark.catalog import TABLE_NAMES

        checker = Checker()
        warm = {op.name: op for op in self.warmup}
        with duckdb.connect() as con:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.ctx.sf_dir}/{t}.parquet'")
            for op in ops:
                oracle = self.registry.ORACLES.get(op.name)
                if oracle is not None:
                    checker.check(op, op.name, lambda oracle=oracle: con.sql(oracle).fetchall())
                    continue
                base = warm.get(op.name)
                if op.error is None and (
                    base is None or base.error is not None
                    or check.quick_digest(op.result) != check.quick_digest(base.result)
                ):
                    op.error = "wrong result: differs from the warm-up pass"

    def properties(self, ops: list[Op]) -> dict:
        return {"operators": list(W.CURATION_OPS)}


WORKLOADS = {w.name: w for w in (SqlOlap, CurationBatch, SqlIngestDml)}


@dataclass
class Unit:
    """One timed unit: a block, a pass or an epoch."""

    ops: list[Op]
    seconds: float

    @property
    def ops_per_s(self) -> float:
        return sum(o.error is None for o in self.ops) / self.seconds


#: A run times at least this many units. One ``sql_olap`` block can take
#: as long as a whole run, and a median over one block's thirteen
#: statements turns on which side of it one template's latency falls;
#: pooling two blocks gives each template two samples.
MIN_UNITS = 2


def run_timed(workload, runner: Runner, seconds: float) -> list[Unit]:
    """Run whole units until ``seconds`` have passed and at least
    ``MIN_UNITS`` units ran, so every run holds the same mix of
    operations."""
    units: list[Unit] = []
    t0 = time.perf_counter()
    for unit in workload.units():
        u0 = time.perf_counter()
        ops = workload.run_unit(runner, unit)
        units.append(Unit(ops, time.perf_counter() - u0))
        if len(units) >= MIN_UNITS and time.perf_counter() - t0 >= seconds:
            break
    return units

