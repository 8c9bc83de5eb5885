"""Result fingerprints: the registry's DuckDB oracle and Spark rows.

A fingerprint is the row count plus an order-insensitive hash of the
rows, with columns taken in name order, the same comparison
``tools/check_correctness.py`` makes.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def fingerprint(cols, rows) -> tuple[int, str]:
    idx = [cols.index(c) for c in sorted(cols)]
    lines = sorted("\x01".join(_cell(r[i]) for i in idx) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def oracle_fingerprints(
    data_dir: str, tables, sql_by_name: dict[str, str]
) -> dict[str, tuple[int, str]]:
    """Run each oracle query on DuckDB over the Parquet files in
    ``data_dir`` and fingerprint its result."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name, sql in sql_by_name.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = fingerprint(cols, res.fetchall())
        return out
    finally:
        con.close()


def cached_oracle_fingerprints(
    cache_dir: str, data_dir: str, tables, sql_by_name: dict[str, str]
) -> dict[str, tuple[int, str]]:
    """``oracle_fingerprints``, remembered per (table bytes, SQL text) in
    ``cache_dir`` so that repeated runs over the same generated tables
    query DuckDB once."""
    data = hashlib.md5()
    for t in tables:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            data.update(f.read())
    os.makedirs(cache_dir, exist_ok=True)
    out, todo, paths = {}, {}, {}
    for name, sql in sql_by_name.items():
        key = hashlib.md5(data.digest() + sql.encode()).hexdigest()
        paths[name] = os.path.join(cache_dir, f"{name}-{key}.json")
        try:
            with open(paths[name]) as f:
                out[name] = tuple(json.load(f))
        except (OSError, ValueError):
            todo[name] = sql
    for name, fp in oracle_fingerprints(data_dir, tables, todo).items():
        with open(paths[name], "w") as f:
            json.dump(fp, f)
        out[name] = fp
    return out
