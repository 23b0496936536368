"""Output checks: an order-insensitive digest per output, the DuckDB
oracle compare for registry queries, and recorded per-seed
expectations. Nothing here runs inside a timed region."""

from __future__ import annotations

import csv
import datetime
import decimal
import glob
import hashlib
import math
import os

#: audit columns stamped with the wall clock at write time
VOLATILE = frozenset({"create_time", "update_time"})


def _cell(v) -> str:
    if v is None or v == "":
        return "\\N"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, str) and any(c in v for c in ".eE"):
        try:
            return _cell(float(v))
        except ValueError:
            return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def digest(rows, columns: list[str]) -> tuple[int, str]:
    """(row count, digest) of a multiset of rows: floats rounded to six
    places, audit timestamps dropped, columns taken in name order, rows
    sorted — so neither row order nor partitioning changes it."""
    keep = sorted((c, i) for i, c in enumerate(columns) if c not in VOLATILE)
    lines = sorted("\x1f".join(_cell(r[i]) for _, i in keep) for r in rows)
    h = hashlib.sha256("\x1e".join(c for c, _ in keep).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(lines), h.hexdigest()[:16]


def read_csv_dir(path: str) -> tuple[list[list[str]], list[str]]:
    """Rows and header of a Spark CSV output directory (header=true)."""
    rows: list[list[str]] = []
    header: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as f:
            reader = csv.reader(f)
            head = next(reader, None)
            if head:
                header = head
                rows.extend(reader)
    return rows, header


def read_parquet_dir(path: str) -> tuple[list[tuple], list[str]]:
    """Rows and column names of a parquet output directory."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    return list(zip(*[c.to_pylist() for c in tbl.columns])), tbl.column_names


# --- registry oracle (type-tagged: Decimal(5) == 5 in Python) ----------

def _tagged(v):
    if v is None:
        return ("null", None)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else round(v, 9))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        raise TypeError("non-flat result cell")
    return (type(v).__name__, v)


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_tagged(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return out


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_mismatch(con, sql: str, rows, cols) -> str | None:
    """None when the Spark rows equal the DuckDB oracle's, else why."""
    tbl = con.execute(sql).fetch_arrow_table()
    want = _norm(list(zip(*[c.to_pylist() for c in tbl.columns])),
                 tbl.column_names)
    got = _norm(rows, cols)
    if got == want:
        return None
    diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
    return f"{len(got)} rows vs oracle {len(want)}; first diff {diff}"
