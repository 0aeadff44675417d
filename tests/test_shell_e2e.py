"""End-to-end shell smoke: the actual `python -m mutable_spark.shell`
process driven over stdin (the reference's IntegrationTest.py drives its
shell binary the same way). One subprocess, several statements."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

#: subprocess env: a 4-slot local session — these e2e tests exercise the
#: CLI/dialect surface on 1-2-row tables, where local[32] only adds task
#: dispatch overhead (measured 21.7 -> 11.7 s per subprocess); the scale
#: posture is covered by the shared local[32] suite session everywhere
#: else
_ENV = {**os.environ, "SPARK_GRAFT_CPUS": "4"}

#: repository root: the subprocesses import `mutable_spark` from here
_REPO = Path(__file__).resolve().parents[1]


def test_shell_stdin_roundtrip():
    script = (
        "CREATE DATABASE d;\n"
        "USE d;\n"
        "CREATE TABLE r (key INT(4) PRIMARY KEY, name CHAR(10));\n"
        'INSERT INTO r VALUES (1, "a"), (2, "b");\n'
        "SELECT key + 10 AS k FROM r WHERE key < 2;\n"
        ".tables\n"
        ".quit\n"
    )
    out = subprocess.run(
        [sys.executable, "-m", "mutable_spark.shell"],
        input=script,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_REPO,
        env=_ENV,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "11" in out.stdout          # the SELECT result
    assert "(1 rows)" in out.stdout
    assert "r" in out.stdout           # .tables listing


def test_plan_rejects_dml_without_side_effect():
    """`.plan INSERT ...` must neither execute the mutation nor crash: the
    table row count stays unchanged and the usage message is printed
    (ADVICE r5: plan_text used to run Engine.execute, silently inserting)."""
    script = (
        "CREATE DATABASE d;\n"
        "USE d;\n"
        "CREATE TABLE r (key INT(4) PRIMARY KEY);\n"
        "INSERT INTO r VALUES (1);\n"
        '.plan INSERT INTO r VALUES (2)\n'
        "SELECT COUNT() AS n FROM r;\n"
        ".plan SELECT key FROM r\n"
        ".quit\n"
    )
    out = subprocess.run(
        [sys.executable, "-m", "mutable_spark.shell"],
        input=script,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_REPO,
        env=_ENV,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "usage: .plan SELECT" in out.stdout
    # COUNT() == 1: the .plan INSERT did not run (a result row is printed
    # on its own line in the reference's literal format)
    assert "\n1\n" in out.stdout
    assert "\n2\n" not in out.stdout
    assert "Physical Plan" in out.stdout  # SELECT plan still renders


def test_shell_create_index_on_loaded_table():
    """.load registers parquet-backed tables, so CREATE INDEX builds a
    file-zone index and a range SELECT runs through the pruned scan path
    — the full reference workflow (load, index, query) over stdin."""
    script = (
        ".load /root/testdata/sf0.001\n"
        "CREATE INDEX ock ON orders USING rmi (o_custkey);\n"
        "SELECT COUNT() AS n FROM orders WHERE o_custkey >= 10 AND o_custkey <= 50;\n"
        ".quit\n"
    )
    out = subprocess.run(
        [sys.executable, "-m", "mutable_spark.shell"],
        input=script,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_REPO,
        env=_ENV,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "loaded" in out.stdout
    assert "error" not in out.stderr.lower().replace("stderr", "")
    import duckdb

    want = duckdb.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/orders.parquet' "
        "WHERE o_custkey BETWEEN 10 AND 50"
    ).fetchone()[0]
    assert f"\n{want}\n" in out.stdout


def test_shell_output_options():
    """The reference shell's additional-output options (-t/--times,
    --echo, --ast, --plan, -q) drive the real process."""
    script = (
        "CREATE TABLE r (key INT(4) PRIMARY KEY);\n"
        "INSERT INTO r VALUES (1), (2);\n"
        "SELECT key FROM r WHERE key < 2;\n"
        ".quit\n"
    )
    out = subprocess.run(
        [sys.executable, "-m", "mutable_spark.shell", "-t", "--echo", "--ast", "--plan"],
        input=script,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_REPO,
        env=_ENV,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "SELECT key FROM r WHERE key < 2" in out.stdout   # --echo
    assert "SelectStmt(" in out.stdout                        # --ast
    assert "Physical Plan" in out.stdout                      # --plan
    assert "compile:" in out.stdout and "execute:" in out.stdout  # --times
    assert "(1 rows)" in out.stdout

    quiet = subprocess.run(
        [sys.executable, "-m", "mutable_spark.shell", "-q"],
        input=script,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_REPO,
        env=_ENV,
    )
    assert quiet.returncode == 0, quiet.stderr[-2000:]
    assert "(1 rows)" not in quiet.stdout   # -q suppresses row summaries
    assert "ok" not in quiet.stdout
    assert "1" in quiet.stdout.splitlines()  # results still print


def test_shell_parquet_instruction():
    """`.parquet <table> <path>` registers a parquet-backed table that a
    subsequent CREATE INDEX + range query prune through."""
    script = (
        ".parquet ords /root/testdata/sf0.001/orders.parquet\n"
        "CREATE INDEX oi ON ords USING rmi (o_custkey);\n"
        "SELECT COUNT() AS n FROM ords WHERE o_custkey >= 10 AND o_custkey <= 50;\n"
        ".quit\n"
    )
    out = subprocess.run(
        [sys.executable, "-m", "mutable_spark.shell"],
        input=script,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_REPO,
        env=_ENV,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "registered ords" in out.stdout
    import duckdb

    want = duckdb.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/orders.parquet' "
        "WHERE o_custkey BETWEEN 10 AND 50"
    ).fetchone()[0]
    assert f"\n{want}\n" in out.stdout


def test_shell_string_index_range():
    """CREATE INDEX on a STRING column through the real shell process: a
    lexicographic source range runs through the string-keyed zone path
    (r7) and returns the exact count."""
    script = (
        ".load /root/testdata/sf0.001\n"
        "CREATE INDEX dsrc ON documents USING array (source);\n"
        'SELECT COUNT() AS n FROM documents WHERE source >= "src10" AND source <= "src15";\n'
        ".quit\n"
    )
    out = subprocess.run(
        [sys.executable, "-m", "mutable_spark.shell"],
        input=script,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_REPO,
        env=_ENV,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    import duckdb

    want = duckdb.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/documents.parquet' "
        "WHERE source >= 'src10' AND source <= 'src15'"
    ).fetchone()[0]
    assert f"\n{want}\n" in out.stdout
