"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import sys
import time
from collections import Counter
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import compare, harness, run, stats, trace  # noqa: E402
from perfbench import workloads as W  # noqa: E402

SF_DIR = Path(run.DEFAULT_SF_DIR)
FAKE_SHARDS = {f"shard{i}": f"/data/shard{i}.dsv" for i in range(len(W.DML_SHARDS))}


def _olap(seed: int, blocks: int = 3) -> list[W.Statement]:
    warm = W.olap_warmup(seed)
    return warm + [s for b in itertools.islice(W.olap_blocks(seed, warm), blocks) for s in b]


def fingerprint(statements) -> str:
    """Order-sensitive digest of statement texts."""
    import hashlib

    h = hashlib.sha256()
    for s in statements:
        h.update(s.text.encode() + b"\0")
    return h.hexdigest()


def _dml(seed: int, epochs: int = 2) -> list[W.Statement]:
    return [s for e in itertools.islice(W.dml_epochs(seed, FAKE_SHARDS), epochs) for s in e]


# -- seed determinism -------------------------------------------------------


@pytest.mark.parametrize("gen", [_olap, _dml])
def test_same_seed_gives_byte_identical_statements(gen):
    a, b = gen(7), gen(7)
    assert [(s.text, s.oracle) for s in a] == [(s.text, s.oracle) for s in b]
    assert fingerprint(a) == fingerprint(b)


@pytest.mark.parametrize("gen", [_olap, _dml])
def test_other_seed_gives_other_literals(gen):
    assert fingerprint(gen(7)) != fingerprint(gen(8))


def test_olap_other_seed_keeps_template_mix():
    for seed in (1, 2, 3):
        warm = W.olap_warmup(seed)
        assert [s.template for s in warm] == list(W.OLAP_TEMPLATES)
        for block in itertools.islice(W.olap_blocks(seed, warm), 5):
            assert Counter(s.template for s in block) == Counter(list(W.OLAP_TEMPLATES))
            assert sum(s.repeat for s in block) == W.REPEATS_PER_BLOCK


def test_olap_repeats_are_exact_earlier_texts():
    stmts = _olap(5, blocks=4)
    seen = set()
    for s in stmts:
        if s.repeat:
            assert s.text in seen
        seen.add(s.text)


def test_dml_other_seed_keeps_statement_mix():
    shape = lambda seed: [(s.kind, s.template) for s in _dml(seed)]  # noqa: E731
    assert shape(1) == shape(2) == shape(3)


def test_curation_passes_permute_the_same_operators():
    assert W.curation_pass(1, 1) == W.curation_pass(1, 1)
    for seed, i in itertools.product((1, 2), (0, 1, 2)):
        assert sorted(W.curation_pass(seed, i)) == sorted(W.CURATION_OPS)


def test_shards_straddle_the_materialization_threshold():
    from mutable_spark.sources.dsv import _MATERIALIZE_MIN_BYTES

    sizes = [len(W.shard_text(3, i).encode()) for i in range(len(W.DML_SHARDS))]
    assert sum(s >= _MATERIALIZE_MIN_BYTES for s in sizes) == 2
    assert sum(s < _MATERIALIZE_MIN_BYTES for s in sizes) == 2
    assert W.shard_text(3, 0) == W.shard_text(3, 0)


def test_template_literals_exist_in_scripts():
    # a script edit that removes a substituted literal must fail loudly
    for draw in W.OLAP_TEMPLATES.values():
        draw(__import__("random").Random(0))
    with pytest.raises(ValueError):
        W._substitute("SELECT 1", {"d'1996-01-01'": "d'1997-01-01'"})


def test_dialect_and_oracle_texts_carry_the_same_dates():
    import re

    for seed in range(30):
        for s in _olap(seed, blocks=1):
            days = sorted(re.findall(r"d'(\d{4}-\d\d-\d\d)", s.text))
            stamps = sorted(re.findall(r"TIMESTAMP '(\d{4}-\d\d-\d\d)", s.oracle))
            assert days == stamps, s.text


# -- the >=100-sample rule --------------------------------------------------


def test_p90_needs_one_hundred_samples():
    few = stats.latency_summary("query", [0.001 * i for i in range(1, 100)])
    assert "query_p50_ms" in few and "query_p90_ms" not in few
    assert few["query_p50_ms"]["samples"] == 99
    enough = stats.latency_summary("query", [0.001 * i for i in range(1, 101)])
    assert enough["query_p90_ms"]["samples"] == 100
    assert enough["query_p90_ms"]["value"] == pytest.approx(90.1)
    assert stats.latency_summary("write", []) == {}


def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 90) == 5


# -- error accounting -------------------------------------------------------


def _op(rows, cols=("a", "b"), kind="read"):
    import pandas as pd

    return harness.Op(kind, "q", 0.1, result=pd.DataFrame(rows, columns=list(cols)))


def test_wrong_result_counts_as_failure():
    checker = harness.Checker()
    good = _op([(1, "x"), (2, "y")])
    bad = _op([(1, "x"), (2, "z")])
    checker.check(good, "k", lambda: [(2, "y"), (1, "x")])
    checker.check(bad, "k", lambda: [(2, "y"), (1, "x")])
    assert good.error is None
    assert bad.error is not None and bad.error.startswith("wrong result")
    units = [harness.Unit([good], 1.0), harness.Unit([bad], 1.0), harness.Unit([good], 4.0)]
    e2e = run.end_to_end(units, setup_s=1.0, peak_kb=1024)
    assert e2e["error_rate"]["value"] == pytest.approx(1 / 3)
    assert e2e["ops_per_s"]["value"] == 0.25  # median of 1, 0 and 0.25
    assert e2e["query_p50_ms"]["samples"] == 2


def test_failed_operation_is_not_checked_again():
    checker = harness.Checker()
    op = _op([(1, "x")])
    op.error = "RuntimeError: boom"
    checker.check(op, "k", lambda: pytest.fail("oracle must not run"))
    assert op.error == "RuntimeError: boom"


def test_checker_skips_only_results_equal_to_a_checked_one():
    calls = []
    checker = harness.Checker()
    for rows in ([(1, "x"), (2, "y")], [(2, "y"), (1, "x")], [(3, "w")]):
        checker.check(_op(rows), "k", lambda: calls.append(1) or [(1, "x"), (2, "y")])
    assert len(calls) == 1  # the oracle runs once per key


def test_timestamps_and_numpy_values_compare_equal():
    import pandas as pd

    pdf = pd.DataFrame({"t": pd.to_datetime(["1996-01-01"]), "n": [3]})
    op = harness.Op("read", "q", 0.1, result=pdf)
    harness.Checker().check(op, "k", lambda: [(dt.datetime(1996, 1, 1), 3)])
    assert op.error is None


class _Units:
    def __init__(self, unit_s):
        self.unit_s = unit_s
        self.ran = 0

    def units(self):
        yield from itertools.count()

    def run_unit(self, runner, unit):
        self.ran += 1
        time.sleep(self.unit_s)
        return [harness.Op("read", "q", self.unit_s)]


def test_timed_loop_runs_at_least_two_units():
    w = _Units(0.0)
    assert len(harness.run_timed(w, None, 0.0)) == harness.MIN_UNITS == 2
    w = _Units(0.05)
    units = harness.run_timed(w, None, 0.2)
    assert 4 <= len(units) == w.ran and sum(u.seconds for u in units) >= 0.2


def test_error_rate_needs_attempts():
    assert stats.error_rate(4, 1) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)


# -- self-time arithmetic ---------------------------------------------------


def _span(name, start, end, parent=None):
    s = trace.Span(name, start, end, parent)
    if parent is not None:
        parent.children.append(s)
    return s


def test_self_time_subtracts_children():
    root = _span("op", 0.0, 10.0)
    a = _span("dialect.execute", 1.0, 6.0, root)
    _span("dialect.compile", 2.0, 5.0, a)
    _span("fetch", 6.0, 9.0, root)
    times = trace.self_times([root, a, *a.children, root.children[1]])
    assert times == pytest.approx(
        {"op": 2.0, "dialect.execute": 2.0, "dialect.compile": 3.0, "fetch": 3.0}
    )
    assert sum(times.values()) == pytest.approx(root.duration)


def test_overlapping_children_count_once_and_clip():
    root = _span("op", 0.0, 10.0)
    _span("x", 1.0, 4.0, root)
    _span("y", 3.0, 6.0, root)
    _span("z", 9.0, 12.0, root)  # runs past its parent: only 1 s is inside
    assert trace.self_time(root) == pytest.approx(10.0 - 5.0 - 1.0)
    assert trace.covered([(0, 1), (1, 2), (5, 6)], 0, 10) == pytest.approx(3.0)


def test_tracer_nests_spans_and_wraps_callables():
    tr = trace.Tracer(True)
    box = {"f": lambda x: x + 1}
    tr.wrap(box, "f", "inner")
    with tr.span("outer"):
        assert box["f"](1) == 2
    outer, inner = tr.spans
    assert inner.parent is outer and outer.children == [inner]
    off = trace.Tracer(False)
    with off.span("outer") as s:
        assert s is None
    assert off.spans == []


def test_process_tree_sees_children():
    import os
    import subprocess

    child = subprocess.Popen(["sleep", "30"])
    try:
        assert child.pid in harness.descendants(os.getpid())
        assert harness.RssSampler._tree_rss_kb(os.getpid()) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


# -- compare mode -----------------------------------------------------------


def _detail(workload, trace_flag, **metrics):
    section = "per_layer" if trace_flag else "end_to_end"
    return {
        "workload": workload,
        "trace": trace_flag,
        section: {k: {"value": v} for k, v in metrics.items()},
    }


def test_compare_flags_only_pairs_outside_their_bound():
    spec = {"end_to_end": [
        {"name": "query_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1},
        {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
    ]}
    a = [_detail("w", 0, query_p50_ms=100 + i, ops_per_s=10.0) for i in range(5)]
    b = [_detail("w", 0, query_p50_ms=125 + i, ops_per_s=9.5) for i in range(5)]
    rows = {r["metric"]: r for r in compare.compare(a, b, spec)}
    assert rows["query_p50_ms"]["verdict"] == "outside"
    assert rows["ops_per_s"]["verdict"] == "within"
    assert rows["ops_per_s"]["worse_by"] == pytest.approx(0.05)


def test_compare_calls_noisy_pairs_unresolved():
    spec = {"end_to_end": [{"name": "query_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1}]}
    a = [_detail("w", 0, query_p50_ms=v) for v in (80, 100, 120, 140, 60)]
    b = [_detail("w", 0, query_p50_ms=v) for v in (81, 101, 121, 141, 61)]
    (row,) = compare.compare(a, b, spec)
    assert row["verdict"] == "unresolved"
    faster = [_detail("w", 0, query_p50_ms=v) for v in (10, 11, 12, 13, 14)]
    (row,) = compare.compare(a, faster, spec)
    assert row["verdict"] == "within"


def test_tracing_overhead_from_traced_and_untraced_runs():
    runs = [_detail("w", 0, ops_per_s=2.0), _detail("w", 1, **{"trace.ops_per_s": 1.5})]
    assert compare.tracing_overhead(runs) == {"w": pytest.approx(0.25)}


def test_compare_reads_result_sets(tmp_path):
    a = tmp_path / "a.jsonl"
    lines = []
    for i in range(3):
        lines.append(json.dumps({"detail": _detail("w", 0, setup_s=1.0 + i / 100)}))
        lines.append(json.dumps({"correct": True, "attempted": 1, "failed": 0, "metrics": {}}))
    a.write_text("\n".join(lines) + "\n")
    assert len(compare.load(str(a))) == 3


# -- BENCHMARK.json and the reported metrics --------------------------------


def test_benchmark_json_lists_what_the_runs_report():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(harness.WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m
    names = {m["name"] for m in spec["per_layer"]}
    assert names == set(run.PER_OP) | {
        "session.start_ms", "catalog.load_ms", "catalog.load_calls",
        "catalog.table_cache_hit_ratio", "catalog.relayout_files",
        "sources.import_ms", "sources.materialize_ms", "sources.materialized_bytes",
        "sources.stage_hit_ratio", "trace.attributed_ratio", "trace.ops_per_s",
    }


# -- parameter-range guard (DuckDB over the sf0.1 testdata) -----------------


needs_sf01 = pytest.mark.skipif(not SF_DIR.exists(), reason="sf0.1 testdata not present")


@needs_sf01
def test_every_olap_parameter_draw_is_non_empty(tmp_path):
    import duckdb

    from perfbench import data

    con = duckdb.connect()
    data.tpch_twin(con, data.export_tpch(con, str(SF_DIR), tmp_path))
    checked = Counter()
    for seed in range(12):
        for s in _olap(seed, blocks=2):
            if s.repeat:
                continue
            rows = con.sql(s.oracle).fetchall()
            assert rows and any(v is not None for v in rows[0]), (s.template, s.text)
            checked[s.template] += 1
    assert set(checked) == set(W.OLAP_TEMPLATES)


@needs_sf01
def test_dml_point_lookups_find_their_row(tmp_path):
    import duckdb

    from perfbench import data

    paths = data.write_shards(4, tmp_path)
    con = duckdb.connect()
    for s in itertools.chain.from_iterable(itertools.islice(W.dml_epochs(4, paths), 2)):
        if s.template == "import":
            con.execute(data.dml_import_sql(s.oracle))
        elif s.kind == "read":
            rows = con.sql(s.oracle).fetchall()
            assert len(rows) == 1 if s.template == "point" else rows, s.text
        else:
            con.execute(s.oracle)
