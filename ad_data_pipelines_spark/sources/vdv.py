"""VDV `.x10` transit-schedule file reader — all three dialects the
reference consumed (SURVEY.md §2.1 S5-S7), one parser.

Dialects:
  * **positional** — `tbl; NAME` … `rec; v0; v1; …` … `end;` blocks;
    consumers pick fields by index
    (reference: scripts/ads_passenger_travel_info_mi.py:47-119).
  * **headered** — same block structure plus `atr;` (column names) and
    `frm;` (declared types) rows; `rec;` values may be double-quoted
    (reference: scripts/ads_ridership_…py:20-52).
  * **fixed-offset** — column names on file line 11, data from line 13,
    two trailer lines dropped, first column discarded
    (reference: scripts/ads_passenger_travel_time_di.R:51-72).

Scale rationale: VDV schedule files are KB-to-MB sized dimension data.
Parsing happens driver-side (one pass, stdlib only) and the result is a
JVM `LocalRelation` built by `sources.local.local_frame`: the planner
sees its exact size (so static planning and AQE broadcast it on their
own, and a `F.broadcast()` hint costs nothing), projections and casts
over it fold at optimization time, and scanning it starts no Python
worker. Shipping a few hundred KB to executors beats a distributed
parse of a file that fits in L2 cache. (A `spark.read.text`-based
distributed variant would only matter for GB-scale .x10 files, which
do not exist.)
"""

from __future__ import annotations

import io
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StringType, StructType

from ad_data_pipelines_spark.sources.local import local_frame


@dataclass
class VdvTable:
    name: str
    columns: list[str] | None  # None for positional files (no atr; row)
    types: list[str] | None  # raw frm; declarations, if present
    rows: list[list[str]] = field(default_factory=list)


def _clean(value: str) -> str:
    v = value.strip()
    if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
        v = v[1:-1]
    return v


def parse_vdv_blocks(text: str) -> dict[str, VdvTable]:
    """Parse `tbl;`-block dialects (positional + headered) in one pass.

    Tables close at `end;` or at the next `tbl;` (back-to-back sections
    appear in reference inputs — FIXTURES.md F8-2).
    """
    tables: dict[str, VdvTable] = {}
    current: VdvTable | None = None
    for raw in io.StringIO(text):
        line = raw.rstrip("\n").rstrip("\r")
        if not line.strip():
            continue
        tag, _, rest = line.partition(";")
        tag = tag.strip()
        if tag == "tbl":
            name = rest.strip()
            current = VdvTable(name=name, columns=None, types=None)
            tables[name] = current
        elif current is None:
            continue
        elif tag == "atr":
            current.columns = [_clean(v) for v in rest.split(";")]
        elif tag == "frm":
            current.types = [_clean(v) for v in rest.split(";")]
        elif tag == "rec":
            current.rows.append([_clean(v) for v in rest.split(";")])
        elif tag == "end":
            current = None
    return tables


def parse_vdv_fixed(text: str, header_line: int = 11, data_line: int = 13,
                    trailer_lines: int = 2, drop_first_col: bool = True):
    """Fixed-offset dialect: (columns, rows). 1-based line numbers match
    the reference's R loader (header at file line 11, data from 13, two
    trailers dropped, throwaway first column)."""
    lines = [l.rstrip("\n").rstrip("\r") for l in text.splitlines()]
    cols = [_clean(v) for v in lines[header_line - 1].split(";")]
    data = lines[data_line - 1 : len(lines) - trailer_lines]
    rows = [[_clean(v) for v in l.split(";")] for l in data if l.strip()]
    if drop_first_col:
        cols = cols[1:]
        rows = [r[1:] for r in rows]
    return cols, rows


def _conform(row: list[str], width: int) -> list[str | None]:
    out = [v if v != "" else None for v in row[:width]]
    out += [None] * (width - len(out))
    return out


def vdv_to_df(
    spark: SparkSession,
    table: VdvTable,
    schema: StructType | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Materialize a parsed VDV table as a `LocalRelation` DataFrame.

    With `schema`, values are cast column-by-column from their string
    form (empty string → NULL). Without, all columns are strings named
    from `atr;` headers, caller-supplied `columns`, or c0..cN.
    """
    names = columns or table.columns
    if schema is not None:
        names = [f.name for f in schema.fields]
    elif names is None:
        width = max((len(r) for r in table.rows), default=0)
        names = [f"c{i}" for i in range(width)]
    width = len(names)
    sdf = local_frame(
        spark,
        [_conform(r, width) for r in table.rows],
        StructType([StructField(n, StringType()) for n in names]),
    )
    if schema is None:
        return sdf
    return sdf.select(
        *[
            F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def read_vdv(
    spark: SparkSession,
    path: str,
    table: str,
    schema: StructType | None = None,
    columns: list[str] | None = None,
    encoding: str = "utf-8",
) -> DataFrame:
    """Read one table from a block-dialect .x10 file (S5/S6).

    Encoding fallback mirrors the reference's utf-8 → latin-1 chain
    (data_ingestion/pg_import.R:56-67).
    """
    try:
        text = open(path, encoding=encoding).read()
    except UnicodeDecodeError:
        text = open(path, encoding="latin-1").read()
    tables = parse_vdv_blocks(text)
    if table not in tables:
        raise KeyError(f"table {table!r} not in {path}: have {sorted(tables)}")
    return vdv_to_df(spark, tables[table], schema=schema, columns=columns)


def read_vdv_fixed(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    encoding: str = "utf-8",
    **offsets,
) -> DataFrame:
    """Read a fixed-offset .x10 file (S7) as a DataFrame."""
    try:
        text = open(path, encoding=encoding).read()
    except UnicodeDecodeError:
        text = open(path, encoding="latin-1").read()
    cols, rows = parse_vdv_fixed(text, **offsets)
    tbl = VdvTable(name="fixed", columns=cols, types=None, rows=rows)
    return vdv_to_df(spark, tbl, schema=schema, columns=None if schema else cols)
