"""Reference answers from DuckDB over the same generated parquet, and the
value normalisation both sides go through before they are compared."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import re

import duckdb

from datagen import TABLES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def norm(v) -> str | None:
    """One canonical string per value: numbers to 6 significant digits
    (both engines sum doubles in different orders), timestamps in ISO form,
    everything else as its text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return f"{f:.6g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(norm(x)) for x in v) + "]"
    s = str(v)
    try:
        return f"{float(s):.6g}"
    except ValueError:
        return s


def norm_rows(rows) -> list[tuple]:
    """Order-insensitive canonical form of a row multiset."""
    return sorted(
        (tuple(norm(v) for v in r) for r in rows),
        key=lambda t: tuple("" if x is None else x for x in t),
    )


def sql_rows(con, sql: str) -> list[tuple]:
    return norm_rows(con.execute(sql).fetchall())


_NT_LINE = re.compile(r'^<([^>]*)> <([^>]*)> (.*) \.$')


def nt_triples(body: bytes) -> list[tuple]:
    """(s, p, o) from an N-Triples body; literal objects lose their quotes,
    datatype and language tag, IRIs lose their angle brackets."""
    out = []
    for line in body.decode().splitlines():
        m = _NT_LINE.match(line.strip())
        if not m:
            continue
        s, p, o = m.groups()
        if o.startswith("<") and o.endswith(">"):
            o = o[1:-1]
        elif o.startswith('"'):
            o = o[1:o.rindex('"')].encode().decode("unicode_escape")
        out.append((s, p, o))
    return out
