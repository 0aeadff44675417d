"""Dialect frontend tests: positive end-to-end statements through Engine,
and the sema-negative corpus mirroring the reference's
`test/ours/sema-san-select-*.yml` error categories."""

from __future__ import annotations

import pytest

from mutable_spark.dialect import Engine, parse
from mutable_spark.dialect.compiler import compile_select
from mutable_spark.dialect.parser import ParseError
from mutable_spark.dialect.sema import SemaError
from mutable_spark.catalog import load_tables
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def tables(spark):
    t = load_tables(spark, SF_DIR)
    return {name: getattr(t, name) for name in vars(t)}


def run(tables, sql):
    return compile_select(parse(sql), tables)


# --- positive -------------------------------------------------------------
def test_select_star(tables):
    rows = run(tables, "SELECT * FROM region").collect()
    assert len(rows) == 5
    assert set(r.r_name for r in rows) == {f"REGION_{i}" for i in range(5)} or len(rows) == 5


def test_qualified_join_order_limit(tables):
    df = run(
        tables,
        "SELECT n.n_name, r.r_name FROM nation AS n, region AS r "
        "WHERE n.n_regionkey = r.r_regionkey ORDER BY n.n_name LIMIT 3 OFFSET 1",
    )
    rows = df.collect()
    assert len(rows) == 3
    assert df.columns == ["n_name", "r_name"]


def test_arithmetic_int_division(tables):
    # C++ semantics: 7/2 == 3 (`src/tables/Opcodes.tbl` Div_i)
    rows = run(tables, "SELECT 7 / 2 AS q, 7 % 2 AS r FROM region LIMIT 1").collect()
    assert rows[0].q == 3 and rows[0].r == 1


def test_group_alias_and_having(tables):
    df = run(
        tables,
        "SELECT bucket, COUNT(*) AS cnt FROM nation "
        "GROUP BY n_nationkey % 3 AS bucket HAVING COUNT(*) > 1 ORDER BY bucket",
    )
    rows = df.collect()
    assert all(r.cnt > 1 for r in rows)
    assert [r.bucket for r in rows] == sorted(r.bucket for r in rows)


def test_string_ops(tables):
    rows = run(
        tables,
        'SELECT r_name .. "!" AS x FROM region WHERE r_name LIKE "%0" ',
    ).collect()
    assert all(r.x.endswith("!") for r in rows)


def test_isnull_and_intcast(tables):
    rows = run(
        tables,
        "SELECT ISNULL(r_name) AS n, INT(r_regionkey + 0.9) AS i FROM region",
    ).collect()
    assert all(r.n is False for r in rows)
    assert all(isinstance(r.i, int) for r in rows)


def test_from_subquery(tables):
    rows = run(
        tables,
        "SELECT s.c, s.k FROM (SELECT n_regionkey AS k, COUNT(*) AS c "
        "FROM nation GROUP BY n_regionkey) AS s WHERE s.c > 1",
    ).collect()
    assert all(r.c > 1 for r in rows)


def test_date_literal_compare(tables):
    rows = run(
        tables,
        "SELECT COUNT(*) AS c FROM orders WHERE o_orderdate < d'1996-01-01'",
    ).collect()
    assert rows[0].c > 0


# --- sema negatives -------------------------------------------------------
@pytest.mark.parametrize(
    "sql,fragment",
    [
        ("SELECT nope FROM region", "unknown attribute"),
        ("SELECT n_name FROM nation, nation", "duplicate table alias"),
        (
            "SELECT n_nationkey FROM nation AS a, nation AS b",
            "ambiguous",
        ),
        ("SELECT foo(n_name) FROM nation", "User-defined functions"),
        ("SELECT n_name FROM nation WHERE SUM(n_nationkey) > 1", "not allowed in WHERE"),
        ("SELECT n_name, COUNT(*) FROM nation", "scalar/vector"),
        ("SELECT n_name FROM nation WHERE n_name LIKE 5", "LIKE"),
        ("SELECT n_name .. 5 FROM nation", ".."),
        ("SELECT -n_name FROM nation", "numeric"),
        ("SELECT n_name FROM missing_table", "does not exist"),
        ("SELECT n_name + 1 FROM nation", "invalid operands"),
    ],
)
def test_sema_negative(tables, sql, fragment):
    with pytest.raises(SemaError) as exc:
        run(tables, sql).collect()
    assert fragment.lower() in str(exc.value).lower()


def test_parse_error():
    with pytest.raises(ParseError):
        parse("SELECT FROM WHERE")


# --- engine: DDL / DML / IMPORT ------------------------------------------
def test_engine_ddl_dml_roundtrip(spark, tmp_path):
    eng = Engine(spark)
    eng.execute("CREATE DATABASE d1")
    eng.execute("USE d1")
    eng.execute(
        "CREATE TABLE r (key INT(2) PRIMARY KEY, fkey INT(2), "
        "rfloat FLOAT NOT NULL, rstring CHAR(15) NOT NULL)"
    )
    eng.execute(
        'INSERT INTO r VALUES (0, 3, 1.5, "abc"), (1, 2, 2.5, "def"), (2, DEFAULT, 3.5, "ghi")'
    )
    rows = eng.execute("SELECT key, fkey FROM r ORDER BY key").collect()
    assert [r.key for r in rows] == [0, 1, 2]
    assert rows[2].fkey is None  # DEFAULT with no default declared → NULL

    # IMPORT DSV (pipe-delimited, no header — the TPC-H .tbl shape)
    p = tmp_path / "more.tbl"
    p.write_text("7|8|9.5|xyz\n8|9|10.5|pqr\n")
    eng.execute(f'IMPORT INTO r DSV "{p}" DELIMITER "|"')
    assert eng.execute("SELECT COUNT(*) AS c FROM r").collect()[0].c == 5

    # ROWS n limit
    p2 = tmp_path / "cap.csv"
    p2.write_text("key,fkey,rfloat,rstring\n10,1,0.5,aa\n11,2,0.5,bb\n12,3,0.5,cc\n")
    eng.execute(f'IMPORT INTO r DSV "{p2}" ROWS 2 HAS HEADER')
    assert eng.execute("SELECT COUNT(*) AS c FROM r").collect()[0].c == 7

    eng.execute("DROP TABLE r")
    with pytest.raises(SemaError):
        eng.execute("SELECT * FROM r")
    # an in-use database cannot be dropped (`Sema.cpp:1437-1442`); switch
    # away first
    with pytest.raises(SemaError):
        eng.execute("DROP DATABASE d1")
    eng.execute("CREATE DATABASE scratch")
    eng.execute("USE scratch")
    eng.execute("DROP DATABASE d1")


def test_engine_schema_types(spark):
    eng = Engine(spark)
    eng.execute("CREATE DATABASE tdb")
    eng.execute("USE tdb")
    eng.execute(
        "CREATE TABLE t (a INT(1), b INT(2), c INT(4), d INT(8), e FLOAT, "
        "f DOUBLE, g DECIMAL(10, 2), h BOOL, i CHAR(5), j VARCHAR(9), "
        "k DATE, l DATETIME)"
    )
    dt = dict(eng.catalog.table("t").dtypes)
    assert dt == {
        "a": "tinyint", "b": "smallint", "c": "int", "d": "bigint",
        "e": "float", "f": "double", "g": "decimal(10,2)", "h": "boolean",
        "i": "string", "j": "string", "k": "date", "l": "timestamp_ntz",
    }


def test_imported_tables_keep_their_size_estimate(spark, tmp_path):
    """CREATE TABLE's empty base must be provably empty to Catalyst, so an
    IMPORTed table is sized by its data (the reference copies IMPORT into
    the table's own Store) and small equi-joins plan a static broadcast."""
    from mutable_spark.plans.hints import conf_scope

    fact = tmp_path / "fact.csv"
    fact.write_text("".join(f"{i},{i % 7}\n" for i in range(1000)))
    dim = tmp_path / "dim.csv"
    dim.write_text("".join(f"{k},name{k}\n" for k in range(7)))
    more = tmp_path / "more.csv"
    more.write_text("7,name7\n8,name8\n")

    eng = Engine(spark)
    eng.execute("CREATE DATABASE sized")
    eng.execute("USE sized")
    eng.execute("CREATE TABLE fact (id INT(4), k INT(4))")
    eng.execute("CREATE TABLE dim (k INT(4), name CHAR(10))")

    # a just-created table is empty and keeps its declared types
    empty = eng.execute("SELECT * FROM dim")
    assert empty.count() == 0
    assert empty.dtypes == [("k", "int"), ("name", "string")]

    eng.execute(f'IMPORT INTO fact DSV "{fact}"')
    eng.execute(f'IMPORT INTO dim DSV "{dim}"')
    size = (
        eng.execute("SELECT * FROM fact")
        ._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert int(str(size)) < 2**40

    with conf_scope(spark, **{"spark.sql.adaptive.enabled": "false"}):
        joined = eng.execute("SELECT fact.id, dim.name FROM fact, dim WHERE fact.k = dim.k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert "Scan ExistingRDD" not in plan, plan
        assert joined.count() == 1000

    # a second IMPORT appends: the rows of both files are served
    eng.execute(f'IMPORT INTO dim DSV "{more}"')
    rows = sorted(tuple(r) for r in eng.execute("SELECT k, name FROM dim").collect())
    assert rows == [(k, f"name{k}") for k in range(9)]


# --- nested queries (QueryExpr) ------------------------------------------
def test_uncorrelated_scalar_subquery(tables):
    rows = run(
        tables,
        "SELECT n_name FROM nation "
        "WHERE n_regionkey = (SELECT MIN(r_regionkey) FROM region)",
    ).collect()
    assert len(rows) > 0


def test_correlated_scalar_subquery_decorrelated(tables, duck):
    rows = run(
        tables,
        "SELECT c_custkey, c_acctbal FROM customer "
        "WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer AS c2 "
        "WHERE c2.c_nationkey = customer.c_nationkey)",
    ).collect()
    want = duck.execute(
        "SELECT c_custkey FROM customer c WHERE c_acctbal > "
        "(SELECT AVG(c2.c_acctbal) FROM customer c2 "
        " WHERE c2.c_nationkey = c.c_nationkey)"
    ).fetchall()
    assert sorted(r.c_custkey for r in rows) == sorted(w[0] for w in want)


def test_subquery_in_select_item(tables):
    rows = run(
        tables,
        "SELECT n_name, (SELECT COUNT(*) FROM region) AS n_regions FROM nation LIMIT 3",
    ).collect()
    assert all(r.n_regions == 5 for r in rows)


def test_unsupported_correlation_rejected(tables):
    with pytest.raises(SemaError):
        run(
            tables,
            "SELECT c_custkey FROM customer WHERE c_acctbal > "
            "(SELECT AVG(c2.c_acctbal) FROM customer AS c2 "
            "WHERE c2.c_nationkey < customer.c_nationkey)",
        )


# --- extended sema negatives (mirroring more of test/ours/sema-san-*) ----
@pytest.mark.parametrize(
    "sql,fragment",
    [
        # grouping violations
        ("SELECT n_regionkey FROM nation GROUP BY n_name", "scalar/vector"),
        ("SELECT COUNT(*) FROM nation GROUP BY SUM(n_nationkey)", "not allowed in GROUP BY"),
        ("SELECT n_name FROM nation HAVING COUNT(*) > 1", "scalar/vector"),
        # type errors
        ("SELECT ~rfloat FROM nation", "unknown attribute"),
        ("SELECT ~n_name FROM nation", "integer operand"),
        ("SELECT NOT n_nationkey FROM nation", "boolean operand"),
        ("SELECT n_name FROM nation WHERE n_nationkey", "boolean"),
        ("SELECT n_name = 5 FROM nation", "invalid operands"),
        # aggregates
        ("SELECT SUM(n_name) FROM nation", "numeric argument"),
        ("SELECT AVG(n_name) FROM nation", "numeric argument"),
        ("SELECT COUNT(n_name, n_nationkey) FROM nation", "exactly one argument"),
        # structure
        ("SELECT b.n_name FROM nation AS a", "unknown table"),
        # ORDER BY constants (Sema.cpp:1358-1361 — without grouping an
        # ordering expression must be vectorial; there is no ordinal
        # ORDER BY in the dialect)
        ("SELECT n_name FROM nation ORDER BY 2", "vectorial"),
        ("SELECT n_name FROM nation ORDER BY (1 + 2 * 3)", "vectorial"),
    ],
)
def test_sema_negative_extended(tables, sql, fragment):
    with pytest.raises(SemaError) as exc:
        run(tables, sql).collect()
    assert fragment.lower() in str(exc.value).lower()


def test_update_delete_parse_to_ast():
    # the reference parses both but leaves execution unreachable
    # (`DatabaseCommand.cpp:189-196`); we parse AND execute (additive,
    # `tests/test_update_delete.py`) — here just pin the AST shapes
    from mutable_spark.dialect import ast_nodes as A

    u = parse("UPDATE r SET x = 1, y = x + 1 WHERE x < 3")
    assert isinstance(u, A.UpdateStmt)
    assert [n for n, _ in u.assignments] == ["x", "y"] and u.where is not None
    d = parse("DELETE FROM r")
    assert isinstance(d, A.DeleteStmt) and d.where is None


# --- round-2 advice fixes -------------------------------------------------
def test_scalar_subquery_multirow_errors(tables):
    # >1-row scalar subquery must raise, not multiply the outer rows
    df = run(
        tables,
        "SELECT r_name FROM region WHERE r_regionkey < (SELECT n_nationkey FROM nation)",
    )
    with pytest.raises(Exception, match="more than one row"):
        df.collect()


def test_scalar_subquery_single_row_ok(tables):
    rows = run(
        tables,
        "SELECT r_name FROM region "
        "WHERE r_regionkey = (SELECT n_regionkey FROM nation WHERE n_nationkey = 3)",
    ).collect()
    assert len(rows) == 1


def test_decimal_widening_numeric_not_lexicographic():
    from mutable_spark.dialect.sema import arithmetic_join

    assert arithmetic_join("decimal(18,2)", "decimal(3,2)", "+") == "decimal(18,2)"
    assert arithmetic_join("decimal(3,4)", "decimal(10,0)", "*") == "decimal(14,4)"


def test_int_division_exact_beyond_double(tables):
    # 2^62+12345 is not double-representable; div must stay exact
    big = (1 << 62) + 12345
    rows = run(tables, f"SELECT {big} / 7 AS q FROM region LIMIT 1").collect()
    assert rows[0].q == big // 7  # both operands positive: trunc == floor


def test_leading_zero_literal_is_octal(tables):
    # reference lexes 0[0-7]+ as TK_OCT_INT (octal)
    rows = run(tables, "SELECT 010 AS a FROM region LIMIT 1").collect()
    assert rows[0].a == 8


def test_malformed_octal_literal_is_parse_error():
    with pytest.raises(ParseError, match="invalid integer literal"):
        parse("SELECT 089 FROM region")


def test_malformed_octal_token_dump_is_tk_error():
    # Lexer.cpp read_number: '08'/'09' leave is != has -> TK_ERROR; the
    # token dump must diverge from TK_OCT_INT exactly as the reference
    # lexer stage does (ADVICE r10)
    from mutable_spark.dialect.lexer import token_dump

    assert "08 TK_ERROR" in token_dump("SELECT 08;")
    assert "09 TK_ERROR" in token_dump("SELECT 09;")
    assert "017 TK_OCT_INT" in token_dump("SELECT 017;")
    assert "0 TK_OCT_INT" in token_dump("SELECT 0;")


def test_limit_offset_round_trip_raw_token_text():
    # ASTPrinter.cpp:139 echoes c.limit.text verbatim: 'LIMIT 0x10' must
    # NOT normalize to 'LIMIT 16' in the parser-stage pretty-print
    from mutable_spark.dialect.printer import print_stmt

    out = print_stmt(parse("SELECT a FROM t LIMIT 0x10 OFFSET 010;"))
    assert "LIMIT 0x10 OFFSET 010" in out
    out = print_stmt(parse("SELECT a FROM t LIMIT 5;"))
    assert "LIMIT 5" in out


def test_char_length_truncation_at_ingest(spark):
    from mutable_spark.dialect import Engine

    e = Engine(spark)
    e.execute("CREATE DATABASE chartest")
    e.execute("USE chartest")
    e.execute("CREATE TABLE C (id INT(4), s CHAR(5), v VARCHAR(3))")
    e.execute('INSERT INTO C VALUES (1, "abcdefgh", "xyzw"), (2, "ab", "q")')
    rows = {r.id: (r.s, r.v) for r in e.execute("SELECT id, s, v FROM C").collect()}
    # CHAR(5)/VARCHAR(3): over-length strings truncate at ingest; shorter
    # strings are observably unpadded (NUL-terminated storage)
    assert rows[1] == ("abcde", "xyz")
    assert rows[2] == ("ab", "q")
