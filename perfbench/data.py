"""Input files and the DuckDB twins the result checks run against.

The TPC-H tables are exported from the parquet testdata to ``|``-delimited
DSV once per run, with the column types ``benchmark/tpc-h/schema.sql``
declares. The dialect engine IMPORTs those files and DuckDB reads the very
same bytes, so both sides start from identical input.
"""

from __future__ import annotations

import re
from pathlib import Path

from perfbench import workloads as W

_DUCK_TYPES = {"INT(8)": "BIGINT", "INT(4)": "INTEGER", "DATETIME": "TIMESTAMP"}


def schema_columns() -> dict[str, list[tuple[str, str]]]:
    """``schema.sql`` as table → [(column, DuckDB type)]."""
    text = (W.TPCH_DIR / "schema.sql").read_text()
    out = {}
    for table, body in re.findall(r"CREATE TABLE (\w+) \((.*?)\);", text, re.S):
        cols = []
        for line in body.strip().splitlines():
            name, typ = line.split()[:2]
            if typ.startswith("CHAR") or typ.startswith("VARCHAR"):
                duck = "VARCHAR"
            else:
                duck = _DUCK_TYPES.get(typ, typ)
            cols.append((name, duck))
        out[table] = cols
    return out


def export_tpch(con, sf_dir: str, out_dir: Path) -> dict[str, str]:
    """Write one DSV file per TPC-H table; returns table → path."""
    out_dir.mkdir(parents=True, exist_ok=True)
    paths = {}
    for table, cols in schema_columns().items():
        exprs = []
        for name, typ in cols:
            if typ == "TIMESTAMP":
                exprs.append(f"strftime({name}, '%Y-%m-%dT%H:%M:%S') AS {name}")
            elif typ.startswith("DECIMAL"):
                exprs.append(f"CAST({name} AS {typ}) AS {name}")
            else:
                exprs.append(name)
        path = out_dir / f"{table.lower()}.tbl"
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM '{sf_dir}/{table.lower()}.parquet') "
            f"TO '{path}' (FORMAT csv, DELIMITER '|', HEADER false)"
        )
        paths[table] = str(path)
    return paths


def _read_csv(path: str, cols: list[tuple[str, str]]) -> str:
    spec = ", ".join(f"'{n}': '{t}'" for n, t in cols)
    return (
        f"read_csv('{path}', delim='|', header=false, quote='\"', escape='\\', "
        f"columns={{{spec}}})"
    )


def tpch_twin(con, paths: dict[str, str]) -> None:
    """DuckDB tables of the same names, loaded from the exported files."""
    for table, cols in schema_columns().items():
        con.execute(f"CREATE TABLE {table} AS SELECT * FROM {_read_csv(paths[table], cols)}")


def dml_columns() -> list[tuple[str, str]]:
    return [(n, t) for n, _, t in W.DML_SCHEMA]


def write_shards(seed: int, out_dir: Path) -> dict[str, str]:
    """Write the seeded DML shards; returns ``{"shardN": path}``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    paths = {}
    for i, (name, _) in enumerate(W.DML_SHARDS):
        p = out_dir / f"{name}.dsv"
        p.write_text(W.shard_text(seed, i))
        paths[f"shard{i}"] = str(p)
    return paths


def dml_import_sql(path: str) -> str:
    return f"INSERT INTO {W.DML_TABLE} SELECT * FROM {_read_csv(path, dml_columns())}"
