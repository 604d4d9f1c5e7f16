"""Correctness checks, run outside the timed regions."""

from __future__ import annotations

import datetime
import math
import os
import sqlite3

ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents",
)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canonical(columns: list[str], rows: list[tuple]) -> tuple:
    """Order-insensitive form of a result: columns sorted by name,
    rows sorted, floats rounded to 9 places."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    data = [tuple(_norm(r[i]) for i in order) for r in rows]
    try:
        data.sort()
    except TypeError:  # NULLs mixed with values
        data.sort(key=repr)
    return tuple(columns[i] for i in order), tuple(data)


def oracle_result(sql: str, data_dir: str) -> tuple:
    """Run a gate's oracle SQL in DuckDB over the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        return canonical([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()


def diff(got: tuple, want: tuple) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows != {len(want[1])}"
    for i, (a, b) in enumerate(zip(got[1], want[1])):
        if a != b:
            return f"row {i}: {a!r} != {b!r}"
    return None


def sqlite_counts(db_path: str) -> dict:
    """Row counts of a converted database, in the manifest's shape."""
    con = sqlite3.connect(db_path)
    try:
        one = lambda q: con.execute(q).fetchone()[0]  # noqa: E731
        return {
            "documents": one("SELECT count(*) FROM documents"),
            "nodes": one("SELECT count(*) FROM nodes"),
            "properties": dict(con.execute(
                "SELECT data_type, count(*) FROM node_properties GROUP BY data_type")),
            "xrefs": dict(con.execute(
                "SELECT reference_type, count(*) FROM cross_references GROUP BY reference_type")),
        }
    finally:
        con.close()


def conversion_diff(db_path: str, errors: int, manifest: dict) -> str | None:
    got = sqlite_counts(db_path)
    got["malformed"] = errors
    for k in ("documents", "nodes", "properties", "xrefs", "malformed"):
        if got[k] != manifest[k]:
            return f"{k}: got {got[k]}, expected {manifest[k]}"
    return None
