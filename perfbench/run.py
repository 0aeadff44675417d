#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload sql_olap --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``{"detail": ...}``) carries every
metric with its unit and sample count, the workload's stated properties,
the environment and any failures. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
#: the testdata convention of this repository (TESTDATA.md)
DEFAULT_SF_DIR = str(Path.home() / "testdata" / "sf0.1")


@dataclass
class Context:
    seed: int
    sf_dir: str
    run_dir: Path


def _environment(run_dir: Path) -> None:
    """Same starting state on every run: fresh temp, relayout, staging and
    Spark local directories under ``run_dir``; Python workers can import
    the package from any working directory; one core per Spark task slot.
    Every other program default stays as it is."""
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "relayout", run_dir / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_RELAYOUT_DIR"] = str(run_dir / "relayout")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise keep a perf-data file in
    # the system temp directory, outside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))


def _stop(spark) -> None:
    """Stop Spark, then wait for the JVM and every process it started
    (Python workers) to exit; what is still alive after 30 s is killed."""
    import signal

    from pyspark import SparkContext

    from perfbench.harness import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
    deadline = time.monotonic() + 30
    for pid in started:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _metric(value: float, unit: str, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


def end_to_end(units, setup_s: float, peak_kb: int) -> dict:
    """``ops_per_s`` is the median over the run's timed units of the
    operations each completed per second of its wall time."""
    from perfbench import stats

    ops = [o for u in units for o in u.ops]
    reads = [o.seconds for o in ops if o.kind == "read" and o.error is None]
    writes = [o.seconds for o in ops if o.kind == "write" and o.error is None]
    failed = sum(o.error is not None for o in ops)
    out = {
        "setup_s": _metric(setup_s, "s"),
        "ops_per_s": _metric(
            statistics.median(u.ops_per_s for u in units), "1/s", samples=len(ops), units=len(units)
        ),
        **stats.latency_summary("query", reads),
        **stats.latency_summary("write", writes),
        "error_rate": _metric(stats.error_rate(len(ops), failed), "ratio", samples=len(ops)),
        "peak_rss_mb": _metric(peak_kb / 1024, "MB"),
    }
    return out


def reported(metrics: dict, section: str) -> dict:
    """The metrics ``BENCHMARK.json`` lists in ``section``, by name and
    unit; a listed metric the run did not produce is an error."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())[section]
    out = {}
    for m in spec:
        got = metrics[m["name"]]
        if got["unit"] != m["unit"]:
            raise ValueError(f"{m['name']}: unit {got['unit']} != {m['unit']}")
        out[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    return out


#: per-layer metrics of the timed operations, each reported as its sum over
#: the operations divided by their number (an operation the layer does not
#: touch adds 0), so the layer times add up to the mean operation time
PER_OP = (
    "dialect.lex_ms", "dialect.parse_ms", "dialect.sema_ms", "dialect.compile_ms",
    "dialect.execute_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.plan_nodes", "builder.ms", "builder.eager_jobs",
    "builder.eager_tasks", "builder.eager_run_ms", "functions.memo_misses", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.job_wall_ms", "exec.run_ms", "exec.cpu_ms",
    "exec.gc_ms", "exec.idle_core_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.codegen_compiles", "fetch.ms", "fetch.rows", "fetch.bytes",
    "cache.persisted_rdds", "cache.release_ms",
)


def unit_of(name: str) -> str:
    """A per-layer metric's unit, from its name's suffix."""
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith(("_bytes", ".bytes")):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_per_s"):
        return "1/s"
    return "count"


def per_layer(tracer, setup_mark: int, units) -> dict:
    """Per-layer metrics of a traced run (see README for each scope)."""
    from perfbench import trace

    ops = [o for u in units for o in u.ops]
    out: dict[str, dict] = {}
    for name in PER_OP:
        out[name] = _metric(
            sum(o.layers.get(name, 0.0) for o in ops) / len(ops), unit_of(name), samples=len(ops)
        )

    setup_spans = tracer.spans[:setup_mark]
    setup_self = trace.self_times(setup_spans)
    c = tracer.counts
    out["session.start_ms"] = _metric(setup_self.get("session.start", 0.0) * 1000, "ms")
    out["catalog.load_ms"] = _metric(
        (setup_self.get("catalog.load", 0.0) + setup_self.get("catalog.relayout", 0.0)) * 1000, "ms"
    )
    out["catalog.load_calls"] = _metric(c.get("catalog.load_calls", 0), "count")
    out["catalog.table_cache_hit_ratio"] = _metric(
        c.get("catalog.table_cache_hits", 0) / c["catalog.load_calls"] if c.get("catalog.load_calls") else 0.0,
        "ratio",
    )
    out["catalog.relayout_files"] = _metric(c.get("catalog.relayout_files", 0), "count")
    for span, name in (("sources.import", "sources.import_ms"), ("sources.materialize", "sources.materialize_ms")):
        xs = [trace.self_time(s) * 1000 for s in tracer.spans if s.name == span]
        out[name] = _metric(sum(xs) / len(xs) if xs else 0.0, "ms", samples=len(xs))
    out["sources.materialized_bytes"] = _metric(c.get("sources.materialized_bytes", 0), "bytes")
    attempts = c.get("sources.stage_hits", 0) + c.get("sources.stage_builds", 0)
    out["sources.stage_hit_ratio"] = _metric(
        c.get("sources.stage_hits", 0) / attempts if attempts else 0.0, "ratio", samples=attempts
    )
    op_ms = sum(o.layers.get("trace.op_ms", 0.0) for o in ops)
    explained = sum(o.layers.get("trace.explained_ms", 0.0) for o in ops)
    out["trace.attributed_ratio"] = _metric(explained / op_ms if op_ms else 0.0, "ratio")
    out["trace.ops_per_s"] = _metric(statistics.median(u.ops_per_s for u in units), "1/s")
    return out


def run(args, ctx: Context) -> tuple[dict, dict]:
    from perfbench import harness, trace
    from perfbench import workloads as W

    from mutable_spark import registry

    registry.load_all()
    tracer = trace.Tracer(bool(args.trace))
    if tracer.enabled:
        builders = W.CURATION_OPS if args.workload == "curation_batch" else ()
        trace.install(tracer, builders)
    workload = harness.WORKLOADS[args.workload](ctx)
    spark = None
    try:
        spark = harness.start_session()
        session_s = time.perf_counter() - T_PROCESS
        runner = harness.Runner(spark, tracer)
        workload.setup(runner)
        setup_s = time.perf_counter() - T_PROCESS
        setup_mark = len(tracer.spans)
        with harness.RssSampler() as rss:
            units = harness.run_timed(workload, runner, args.seconds)
        env = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
        }
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop(spark)
    t_check = time.perf_counter()
    ops = [o for u in units for o in u.ops]
    workload.check(ops)
    t_done = time.perf_counter()
    failed = sum(o.error is not None for o in ops)
    e2e = end_to_end(units, setup_s, rss.peak_kb)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "phases_s": {
            "to_session": session_s,
            "workload_setup": setup_s - session_s,
            "timed": sum(u.seconds for u in units),
            "stop": t_check - t_stop,
            "check": t_done - t_check,
        },
        "unit_s": [u.seconds for u in units],
        "read_ms_by_name": {
            name: statistics.median(
                o.seconds * 1000 for o in ops if o.name == name and o.kind == "read"
            )
            for name in sorted({o.name for o in ops if o.kind == "read"})
        },
        "end_to_end": e2e,
        "properties": workload.properties(ops),
        "environment": {
            **env,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "sf_dir": ctx.sf_dir,
            "python": platform.python_version(),
            "pyspark": __import__("pyspark").__version__,
            "fresh_dirs": ["TMPDIR", "SPARK_GRAFT_RELAYOUT_DIR", "SPARK_LOCAL_DIRS", "java.io.tmpdir"],
        },
        "failures": [f"{o.name}: {o.error}" for o in ops if o.error is not None][:20],
    }
    if tracer.enabled:
        detail["per_layer"] = per_layer(tracer, setup_mark, units)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    return detail, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("sql_olap", "curation_batch", "sql_ingest_dml"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "mutable_spark").is_dir() or not (ROOT / "benchmark" / "tpc-h").is_dir():
        print(f"perfbench: {ROOT} holds no mutable_spark checkout", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR).rstrip("/")
    if not Path(sf_dir, "lineitem.parquet").exists():
        print(f"perfbench: no testdata at {sf_dir}", file=sys.stderr)
        return 2
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        _environment(run_dir)
        detail, result = run(args, Context(args.seed, sf_dir, run_dir))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    section = "per_layer" if args.trace else "end_to_end"
    result["metrics"] = reported(detail[section], section)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
