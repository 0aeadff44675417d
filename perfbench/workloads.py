"""Seeded inputs of the three workloads.

Everything here is pure Python: the same seed gives byte-identical
statements, and nothing touches Spark or DuckDB. Each generator returns
both the dialect text the engine runs and the DuckDB text the oracle runs,
filled from one parameter draw.

- ``sql_olap``: the TPC-H scripts in ``benchmark/tpc-h`` and the six
  ``plans/dialect_queries.py`` shapes, with seeded literals. Statements
  come in blocks; each block holds every template once, in a seeded
  order, and ``REPEATS_PER_BLOCK`` of them repeat an earlier text exactly.
- ``sql_ingest_dml``: epochs of CREATE TABLE, IMPORTs of DSV shards,
  write/read cycles (INSERT VALUES, UPDATE, DELETE, an aggregate and a
  point lookup), DROP TABLE.
- ``curation_batch``: a seeded order of registered operators per pass.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass
from pathlib import Path

TPCH_DIR = Path(__file__).resolve().parents[1] / "benchmark" / "tpc-h"

# The testdata covers shipdates 1995-01-02..2001-11-04 and orderdates
# 1995-01-01..2001-08-01; every drawn window lies inside them.
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
RETURNFLAGS = ("A", "N", "R")


@dataclass(frozen=True)
class Statement:
    """One operation: dialect text for the engine and what the oracle runs
    for it (DuckDB text; for an IMPORT, the path of the imported file)."""

    kind: str  # "read" | "write" | "ddl"
    template: str
    text: str
    oracle: str
    repeat: bool = False


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> dt.date:
    return lo + dt.timedelta(days=rng.randrange((hi - lo).days + 1))


def _d(x: dt.date) -> str:
    return f"d'{x.isoformat()}'"


def _ts(x: dt.date) -> str:
    return f"TIMESTAMP '{x.isoformat()} 00:00:00'"


def _add_months(x: dt.date, n: int) -> dt.date:
    m = x.month - 1 + n
    return dt.date(x.year + m // 12, m % 12 + 1, 1)


def script_select(name: str) -> str:
    """The SELECT of ``benchmark/tpc-h/<name>.sql`` without its IMPORTs
    (the tables are imported once in set-up)."""
    stmts = [s.strip() for s in (TPCH_DIR / f"{name}.sql").read_text().split(";")]
    (select,) = [s for s in stmts if s.upper().startswith("SELECT")]
    return select


def _substitute(text: str, subs: dict[str, str]) -> str:
    """Replace each literal of the script by its drawn value, all in one
    pass (a drawn value may equal another literal of the script); a
    literal missing from the script means the script changed under the
    template."""
    for old in subs:
        if old not in text:
            raise ValueError(f"literal {old!r} not found in template text")
    pattern = re.compile("|".join(re.escape(old) for old in subs))
    return pattern.sub(lambda m: subs[m.group(0)], text)


# Each oracle runs in DuckDB over tables loaded from the same DSV files,
# under the same table names, and lists the dialect query's columns in the
# same order.


def _q1(rng):
    cut = _day(rng, dt.date(1998, 1, 1), dt.date(2001, 9, 30))
    text = _substitute(script_select("q1"), {"d'2001-09-02'": _d(cut)})
    oracle = f"""
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity), SUM(l_extendedprice),
               SUM(l_extendedprice * (1 - l_discount)),
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
               SUM(l_quantity), SUM(l_extendedprice), SUM(l_discount),
               COUNT(*)
        FROM Lineitem WHERE l_shipdate <= {_ts(cut)}
        GROUP BY l_returnflag, l_linestatus"""
    return text, oracle


def _q3(rng):
    seg = rng.choice(SEGMENTS)
    day = _day(rng, dt.date(1995, 6, 1), dt.date(2001, 6, 1))
    text = _substitute(
        script_select("q3"), {'"BUILDING"': f'"{seg}"', "d'1998-03-15'": _d(day)}
    )
    oracle = f"""
        SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               o_orderdate, o_orderpriority
        FROM Customer, Orders, Lineitem
        WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < {_ts(day)} AND l_shipdate > {_ts(day)}
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10"""
    return text, oracle


def _year_window(rng, first=1995, last=2000):
    y = rng.randint(first, last)
    return dt.date(y, 1, 1), dt.date(y + 1, 1, 1)


def _q5(rng):
    region = rng.choice(REGIONS)
    lo, hi = _year_window(rng)
    text = _substitute(
        script_select("q5"),
        {'"ASIA"': f'"{region}"', "d'1996-01-01'": _d(lo), "d'1997-01-01'": _d(hi)},
    )
    oracle = f"""
        SELECT n_name, SUM(l_extendedprice * (1 - l_discount))
        FROM Customer, Orders, Lineitem, Supplier, Nation, Region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = '{region}'
          AND o_orderdate >= {_ts(lo)} AND o_orderdate < {_ts(hi)}
        GROUP BY n_name"""
    return text, oracle


def _q6(rng):
    lo, hi = _year_window(rng)
    qty = rng.randint(20, 30)
    text = _substitute(
        script_select("q6"),
        {"d'1996-01-01'": _d(lo), "d'1997-01-01'": _d(hi), "l_quantity < 24": f"l_quantity < {qty}"},
    )
    oracle = f"""
        SELECT SUM(l_extendedprice * l_discount) FROM Lineitem
        WHERE l_shipdate >= {_ts(lo)} AND l_shipdate < {_ts(hi)}
          AND l_quantity < {qty}"""
    return text, oracle


def _q10(rng):
    lo = dt.date(rng.randint(1995, 2000), rng.choice((1, 4, 7, 10)), 1)
    hi = _add_months(lo, 3)
    flag = rng.choice(("A", "R"))
    text = _substitute(
        script_select("q10"),
        {"d'1996-10-01'": _d(lo), "d'1997-01-01'": _d(hi), '"R"': f'"{flag}"'},
    )
    oracle = f"""
        SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               c_acctbal, n_name, c_mktsegment
        FROM Customer, Orders, Lineitem, Nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND c_nationkey = n_nationkey
          AND o_orderdate >= {_ts(lo)} AND o_orderdate < {_ts(hi)}
          AND l_returnflag = '{flag}'
        GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
        ORDER BY revenue DESC, c_custkey
        LIMIT 20"""
    return text, oracle


def _q12(rng):
    lo, hi = _year_window(rng)
    text = _substitute(
        script_select("q12"), {"d'1996-01-01'": _d(lo), "d'1997-01-01'": _d(hi)}
    )
    oracle = f"""
        SELECT o_orderpriority, COUNT(*) FROM Lineitem, Orders
        WHERE o_orderkey = l_orderkey
          AND (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH')
          AND l_shipdate >= {_ts(lo)} AND l_shipdate < {_ts(hi)}
        GROUP BY o_orderpriority"""
    return text, oracle


def _q14(rng):
    lo = dt.date(rng.randint(1995, 2001), rng.randint(1, 12), 1)
    if lo > dt.date(2001, 10, 1):
        lo = dt.date(2001, 10, 1)
    hi = _add_months(lo, 1)
    text = _substitute(
        script_select("q14"), {"d'1996-09-01'": _d(lo), "d'1996-10-01'": _d(hi)}
    )
    oracle = f"""
        SELECT SUM(l_extendedprice * (1 - l_discount)) FROM Lineitem, Part
        WHERE l_partkey = p_partkey
          AND l_shipdate >= {_ts(lo)} AND l_shipdate < {_ts(hi)}"""
    return text, oracle


# The six plans/dialect_queries.py shapes over the IMPORTed tables.


def _filter_project(rng):
    qty = rng.randint(45, 49)
    flag = rng.choice(RETURNFLAGS)
    line = rng.randint(2, 4)
    text = f"""SELECT l_orderkey, l_linenumber, l_quantity,
       l_orderkey % 10 AS bucket, INT(l_quantity) AS qty_int
FROM Lineitem
WHERE l_quantity >= {qty}.0 AND NOT (l_returnflag = "{flag}") AND l_linenumber < {line}"""
    oracle = f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_orderkey % 10,
               CAST(TRUNC(l_quantity) AS INTEGER)
        FROM Lineitem
        WHERE l_quantity >= {qty}.0 AND NOT (l_returnflag = '{flag}')
          AND l_linenumber < {line}"""
    return text, oracle


def _join_group_having(rng):
    day = _day(rng, dt.date(1995, 1, 1), dt.date(1999, 12, 31))
    having = rng.randint(20, 40)
    text = f"""SELECT c.c_name AS name, COUNT(*) AS cnt, SUM(l.l_quantity) AS qty
FROM Customer AS c, Orders AS o, Lineitem AS l
WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
  AND o.o_orderdate >= {_d(day)}
GROUP BY c.c_name
HAVING COUNT(*) > {having}
ORDER BY cnt DESC, name
LIMIT 15"""
    oracle = f"""
        SELECT c.c_name AS name, COUNT(*) AS cnt, SUM(l.l_quantity)
        FROM Customer c, Orders o, Lineitem l
        WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
          AND o.o_orderdate >= {_ts(day)}
        GROUP BY c.c_name HAVING COUNT(*) > {having}
        ORDER BY cnt DESC, name LIMIT 15"""
    return text, oracle


def _string_ops(rng):
    letter = rng.choice("0123456789")  # testdata nations are NATION_0..NATION_24
    text = f"""SELECT n_name .. "/" .. r_name AS tag, n_nationkey
FROM Nation, Region
WHERE n_regionkey = r_regionkey AND n_name LIKE "%{letter}%"
ORDER BY n_nationkey"""
    oracle = f"""
        SELECT n_name || '/' || r_name, n_nationkey FROM Nation, Region
        WHERE n_regionkey = r_regionkey AND n_name LIKE '%{letter}%'"""
    return text, oracle


def _group_alias_subquery(rng):
    mod = rng.randint(3, 11)
    floor = rng.randint(50, 500)
    text = f"""SELECT bucket, total
FROM (
    SELECT o_orderkey % {mod} AS bucket, COUNT(*) AS total
    FROM Orders
    GROUP BY o_orderkey % {mod} AS bucket
) AS s
WHERE total > {floor}
ORDER BY bucket"""
    oracle = f"""
        SELECT bucket, total FROM (
            SELECT o_orderkey % {mod} AS bucket, COUNT(*) AS total
            FROM Orders GROUP BY o_orderkey % {mod}) s
        WHERE total > {floor}"""
    return text, oracle


def _global_agg(rng):
    day = _day(rng, dt.date(1995, 3, 1), dt.date(2001, 10, 31))
    text = f"""SELECT COUNT(*) AS cnt, SUM(l_quantity) AS total_qty, AVG(l_quantity) AS avg_qty,
       MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
FROM Lineitem
WHERE l_shipdate < d'{day.isoformat()} 00:00:00'"""
    oracle = f"""
        SELECT COUNT(*), SUM(l_quantity),
               -- the dialect's AVG of DECIMAL(10,2) is the DECIMAL(14,6)
               -- average (rounded half up) as DOUBLE; exact integer
               -- arithmetic reproduces it
               CAST((SUM(CAST(l_quantity * 100 AS BIGINT)) * 20000 + COUNT(*))
                    // (2 * COUNT(*)) AS DOUBLE) / 1000000,
               MIN(l_shipdate), MAX(l_shipdate)
        FROM Lineitem WHERE l_shipdate < {_ts(day)}"""
    return text, oracle


def _correlated_subquery(rng):
    factor = rng.choice(("1.5", "1.6", "1.7", "1.8", "1.9", "2.0"))
    text = f"""SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM Customer AS c
WHERE c.c_acctbal > {factor} * (
    SELECT AVG(c2.c_acctbal) FROM Customer AS c2
    WHERE c2.c_nationkey = c.c_nationkey
)"""
    oracle = f"""
        SELECT c.c_custkey, c.c_name, c.c_acctbal FROM Customer c
        WHERE c.c_acctbal > {factor} * (
            SELECT AVG(c2.c_acctbal) FROM Customer c2
            WHERE c2.c_nationkey = c.c_nationkey)"""
    return text, oracle


#: template name → parameter draw returning (dialect text, DuckDB text)
OLAP_TEMPLATES = {
    "tpch_q1": _q1,
    "tpch_q3": _q3,
    "tpch_q5": _q5,
    "tpch_q6": _q6,
    "tpch_q10": _q10,
    "tpch_q12": _q12,
    "tpch_q14": _q14,
    "filter_project": _filter_project,
    "join_group_having": _join_group_having,
    "string_ops": _string_ops,
    "group_alias_subquery": _group_alias_subquery,
    "global_agg": _global_agg,
    "correlated_subquery": _correlated_subquery,
}

#: Per block of ``len(OLAP_TEMPLATES)`` statements, this many repeat an
#: earlier text of their template exactly (6 of 13, about half); the rest
#: carry new literals.
REPEATS_PER_BLOCK = 6


def olap_warmup(seed: int) -> list[Statement]:
    """One fresh instance of every template, run in set-up; their texts
    seed the history that the first timed block repeats from."""
    rng = random.Random(f"olap-warmup-{seed}")
    out = []
    for name, draw in OLAP_TEMPLATES.items():
        text, oracle = draw(rng)
        out.append(Statement("read", name, text, oracle))
    return out


def olap_blocks(seed: int, warmup: list[Statement]):
    """Endless seeded stream of timed statements, one block at a time."""
    rng = random.Random(f"olap-{seed}")
    history: dict[str, list[Statement]] = {}
    for s in warmup:
        history.setdefault(s.template, []).append(s)
    names = list(OLAP_TEMPLATES)
    while True:
        order = names[:]
        rng.shuffle(order)
        repeats = set(rng.sample(order, REPEATS_PER_BLOCK))
        block = []
        for name in order:
            if name in repeats:
                prev = rng.choice(history[name])
                block.append(Statement("read", name, prev.text, prev.oracle, True))
            else:
                text, oracle = OLAP_TEMPLATES[name](rng)
                s = Statement("read", name, text, oracle)
                history[name].append(s)
                block.append(s)
        yield block


# --------------------------------------------------------------------------
# sql_ingest_dml

DML_TABLE = "Ingest"
DML_SCHEMA = (
    ("id", "INT(8)", "BIGINT"),
    ("grp", "INT(4)", "INTEGER"),
    ("amount", "DECIMAL(10,2)", "DECIMAL(10,2)"),
    ("qty", "INT(4)", "INTEGER"),
    ("tag", "CHAR(8)", "VARCHAR"),
    ("ts", "DATETIME", "TIMESTAMP"),
)
DML_GROUPS = 20
#: Shard sizes in rows, around the 4 MiB materialization threshold of
#: ``sources/dsv.py`` (about 48 bytes a row): two above it, two below.
DML_SHARDS = (("big0", 100_000), ("big1", 100_000), ("small0", 4_000), ("small1", 4_000))
DML_CYCLES = 3  # write/read cycles per epoch before the table is re-created
DML_INSERT_ROWS = 50
_TAGS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")


def _dml_row(rng: random.Random, rid: int) -> tuple:
    return (
        rid,
        rng.randrange(DML_GROUPS),
        rng.randrange(1, 10_000_00) / 100,
        rng.randrange(1, 100),
        rng.choice(_TAGS),
        dt.datetime(1995, 1, 1) + dt.timedelta(seconds=rng.randrange(7 * 365 * 86400)),
    )


def shard_text(seed: int, shard: int) -> str:
    """DSV text (``|``-delimited) of one shard; ids never collide across
    shards or with INSERT batches."""
    name, rows = DML_SHARDS[shard]
    rng = random.Random(f"shard-{seed}-{name}")
    base = (shard + 1) * 1_000_000
    lines = []
    for i in range(rows):
        r = _dml_row(rng, base + i)
        lines.append(f"{r[0]}|{r[1]}|{r[2]:.2f}|{r[3]}|{r[4]}|{r[5].isoformat()}")
    return "\n".join(lines) + "\n"


def dml_create() -> tuple[str, str]:
    cols = ", ".join(f"{n} {t} NOT NULL" for n, t, _ in DML_SCHEMA)
    dcols = ", ".join(f"{n} {t} NOT NULL" for n, _, t in DML_SCHEMA)
    return f"CREATE TABLE {DML_TABLE} ({cols})", f"CREATE TABLE {DML_TABLE} ({dcols})"


def dml_epochs(seed: int, shard_paths: dict[str, str]):
    """Endless seeded stream of epochs; each is a list of Statements.

    ``shard_paths`` maps ``shardN`` to the written file of shard N. Epoch
    ``e`` imports big shard ``e % 2`` and small shard ``2 + e % 2``, so
    every run materializes the same shards at the same epochs. The oracle
    side of an IMPORT is the file path, replayed as a DuckDB insert."""
    rng = random.Random(f"dml-{seed}")
    next_id = 10_000_000
    epoch = 0
    while True:
        create, dcreate = dml_create()
        out = [Statement("ddl", "create", create, dcreate)]
        for shard in (epoch % 2, 2 + epoch % 2):
            path = shard_paths[f"shard{shard}"]
            text = f'IMPORT INTO {DML_TABLE} DSV "{path}" DELIMITER "|"'
            out.append(Statement("write", "import", text, path))
        for _ in range(DML_CYCLES):
            rows = [_dml_row(rng, next_id + i) for i in range(DML_INSERT_ROWS)]
            point = rows[rng.randrange(DML_INSERT_ROWS)][0]
            next_id += DML_INSERT_ROWS
            out.append(Statement("write", "insert", *_insert(rows)))
            g, dq = rng.randrange(DML_GROUPS), rng.randint(1, 9)
            out.append(
                Statement(
                    "write",
                    "update",
                    f"UPDATE {DML_TABLE} SET qty = qty + {dq}, amount = amount * 2 WHERE grp = {g}",
                    f"UPDATE {DML_TABLE} SET qty = qty + {dq}, amount = amount * 2 WHERE grp = {g}",
                )
            )
            g, q = rng.randrange(DML_GROUPS), rng.randint(5, 30)
            # only shard rows are deleted, so the point lookup below finds
            # the row it was drawn from
            pred = f"grp = {g} AND qty < {q} AND id < 10000000"
            out.append(
                Statement(
                    "write",
                    "delete",
                    f"DELETE FROM {DML_TABLE} WHERE {pred}",
                    f"DELETE FROM {DML_TABLE} WHERE {pred}",
                )
            )
            lo = rng.randrange(DML_GROUPS // 2)
            out.append(
                Statement(
                    "read",
                    "aggregate",
                    f"SELECT grp, COUNT(*) AS n, SUM(qty) AS q, SUM(amount) AS a, "
                    f"MIN(ts) AS t0, MAX(ts) AS t1 FROM {DML_TABLE} "
                    f"WHERE grp >= {lo} GROUP BY grp",
                    f"SELECT grp, COUNT(*), SUM(qty), SUM(amount), MIN(ts), MAX(ts) "
                    f"FROM {DML_TABLE} WHERE grp >= {lo} GROUP BY grp",
                )
            )
            out.append(
                Statement(
                    "read",
                    "point",
                    f"SELECT id, grp, amount, qty, tag, ts FROM {DML_TABLE} WHERE id = {point}",
                    f"SELECT id, grp, amount, qty, tag, ts FROM {DML_TABLE} WHERE id = {point}",
                )
            )
        out.append(Statement("ddl", "drop", f"DROP TABLE {DML_TABLE}", f"DROP TABLE {DML_TABLE}"))
        epoch += 1
        yield out


def _insert(rows) -> tuple[str, str]:
    dialect = ", ".join(
        f'({r[0]}, {r[1]}, {r[2]:.2f}, {r[3]}, "{r[4]}", d\'{r[5].isoformat(" ")}\')'
        for r in rows
    )
    duck = ", ".join(
        f"({r[0]}, {r[1]}, {r[2]:.2f}, {r[3]}, '{r[4]}', TIMESTAMP '{r[5].isoformat(' ')}')"
        for r in rows
    )
    return (
        f"INSERT INTO {DML_TABLE} VALUES {dialect}",
        f"INSERT INTO {DML_TABLE} VALUES {duck}",
    )


# --------------------------------------------------------------------------
# curation_batch

#: Registered operators the curation workload runs, a subset of bench.py's
#: HEADLINE sized so set-up, a warm-up pass and two timed passes fit one
#: benchmark run (see perfbench/README.md for what was left out and why).
CURATION_OPS = (
    "dedup_exact",
    "text_quality_score",
    "events_sessionize",
    "multimodal_phash",
    "text_bpe_encode",
)


CURATION_WARMUP_PASSES = 3


def curation_pass(seed: int, index: int) -> list[str]:
    """The operator order of pass ``index`` (the first
    ``CURATION_WARMUP_PASSES`` are the warm-up)."""
    order = list(CURATION_OPS)
    random.Random(f"curation-{seed}-{index}").shuffle(order)
    return order
