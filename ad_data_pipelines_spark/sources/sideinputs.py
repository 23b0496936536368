"""Small side-input readers: Excel lookups (S8) and GeoJSON polygon
dimensions (S9).

Reference parity: the reference read a service-type lookup from .xlsx
(scripts/ads_ridership_…py:19) and region polygons from GeoJSON
(dwd_bus_route_info_mf & other 2.R:338). Both inputs are KB-sized
dimensions → parsed driver-side, returned as `LocalRelation` DataFrames
(same rationale as the VDV reader, sources/vdv.py).

Excel: pandas.read_excel is used when an engine (openpyxl/xlrd) is
installed; otherwise a dependency-free stdlib parser takes over —
.xlsx is a zip of SpreadsheetML, and zipfile + ElementTree cover the
dimension-sized lookup sheets the reference reads (shared strings,
inline strings, numbers, bools; no formula evaluation).
"""

from __future__ import annotations

import json
import re
import xml.etree.ElementTree as ET
import zipfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ad_data_pipelines_spark.sources.local import local_frame

_SSML = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_RELS = (
    "{http://schemas.openxmlformats.org/package/2006/relationships}"
)
_ODOC_R = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)


def _col_index(cell_ref: str) -> int:
    """'BC12' → 0-based column index 54."""
    n = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - 64)
    return n - 1


def _read_xlsx_stdlib(
    path: str, sheet: str | int = 0, header: int = 0
) -> tuple[list[str], list[list]]:
    """Parse one worksheet of an .xlsx with only the stdlib. Returns
    (column_names, data_rows). Cells: shared/inline/formula strings,
    numbers (int when integral), bools; empty → None."""
    z = zipfile.ZipFile(path)
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = {
        r.get("Id"): r.get("Target")
        for r in ET.fromstring(z.read("xl/_rels/workbook.xml.rels")).iter(
            f"{_RELS}Relationship"
        )
    }
    sheets = wb.find(f"{_SSML}sheets").findall(f"{_SSML}sheet")
    if isinstance(sheet, int):
        node = sheets[sheet]
    else:
        node = next(s for s in sheets if s.get("name") == sheet)
    target = rels[node.get(f"{_ODOC_R}id")].lstrip("/")
    ws_path = target if target.startswith("xl/") else f"xl/{target}"

    shared: list[str] = []
    if "xl/sharedStrings.xml" in z.namelist():
        for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(
            f"{_SSML}si"
        ):
            shared.append("".join(t.text or "" for t in si.iter(f"{_SSML}t")))

    grid: list[dict[int, object]] = []
    for row in ET.fromstring(z.read(ws_path)).iter(f"{_SSML}row"):
        cells: dict[int, object] = {}
        for c in row.findall(f"{_SSML}c"):
            idx = _col_index(c.get("r", "A"))
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                is_node = c.find(f"{_SSML}is")
                val = (
                    "".join(t.text or "" for t in is_node.iter(f"{_SSML}t"))
                    if is_node is not None
                    else None
                )
            else:
                v = c.find(f"{_SSML}v")
                if v is None or v.text is None:
                    val = None
                elif ctype == "s":
                    val = shared[int(v.text)]
                elif ctype == "b":
                    val = v.text == "1"
                elif ctype == "str":
                    val = v.text
                else:  # numeric
                    f = float(v.text)
                    val = int(f) if f.is_integer() else f
            cells[idx] = val
        grid.append(cells)

    width = max((max(r) + 1 for r in grid if r), default=0)
    dense = [[r.get(i) for i in range(width)] for r in grid]
    names = [
        str(v) if v is not None else f"col{i}"
        for i, v in enumerate(dense[header])
    ]
    return names, dense[header + 1 :]


def _excel_type(values: list) -> str:
    """Spark type of one stdlib-parsed sheet column from its non-NULL
    cells (a column with none is a string column); mixed types raise,
    as Spark's own inference would."""
    kinds = {type(v) for v in values}
    for kind, spark_type in (
        (str, "string"), (bool, "boolean"), (int, "bigint"), (float, "double")
    ):
        if kinds <= {kind}:
            return spark_type
    raise TypeError(
        f"mixed cell types {sorted(k.__name__ for k in kinds)} in one column"
    )


def read_excel(
    spark: SparkSession, path: str, sheet: str | int = 0, header: int = 0
) -> DataFrame:
    """Excel lookup → DataFrame (S8). Uses pandas when an Excel engine
    is installed, else the stdlib SpreadsheetML parser — either way a
    driver-side parse of a dimension-sized sheet."""
    try:
        import pandas as pd

        pdf = pd.read_excel(path, sheet_name=sheet, header=header)
    except ImportError:
        pdf = None  # no openpyxl/xlrd → stdlib path below
    if pdf is not None:
        pdf.columns = [str(c) for c in pdf.columns]
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        return local_frame(
            spark,
            zip(*table.to_pydict().values()),
            from_arrow_schema(table.schema),
        )
    names, rows = _read_xlsx_stdlib(path, sheet, header)
    # per-column type unification: one double column instead of a
    # mixed int/float one
    for i in range(len(names)):
        vals = [r[i] for r in rows if r[i] is not None]
        if vals and all(isinstance(v, (int, float)) for v in vals) and any(
            isinstance(v, float) for v in vals
        ):
            for r in rows:
                if r[i] is not None:
                    r[i] = float(r[i])
    safe = [re.sub(r"[^0-9A-Za-z_]", "_", n) for n in names]
    types = [
        _excel_type([r[i] for r in rows if r[i] is not None])
        for i in range(len(names))
    ]
    return local_frame(
        spark, rows, ", ".join(f"`{n}` {t}" for n, t in zip(safe, types))
    )


def read_geojson_polygons(
    spark: SparkSession, path: str, name_property: str = "NAME_2"
) -> tuple[DataFrame, dict[str, list[tuple[float, float]]]]:
    """GeoJSON FeatureCollection → (DataFrame of features, polygon dict
    for operators.geo.label_by_polygons) (S9).

    Returns the outer ring of each (Multi)Polygon feature keyed by its
    `name_property`. A FeatureCollection of regions is tiny — stdlib
    json on the driver, no GIS dependency.
    """
    with open(path, encoding="utf-8") as f:
        fc = json.load(f)
    polygons: dict[str, list[tuple[float, float]]] = {}
    rows = []
    for feat in fc.get("features", []):
        name = str(feat.get("properties", {}).get(name_property))
        geom = feat.get("geometry", {})
        gtype = geom.get("type")
        coords = geom.get("coordinates", [])
        if gtype == "Polygon" and coords:
            ring = coords[0]
        elif gtype == "MultiPolygon" and coords:
            # largest outer ring wins (reference regions are single-part)
            ring = max((p[0] for p in coords if p), key=len)
        else:
            continue
        polygons[name] = [(float(x), float(y)) for x, y in ring]
        rows.append((name, gtype, len(ring)))
    df = local_frame(
        spark, rows, "name string, geom_type string, ring_points int"
    )
    return df, polygons


def excel_serial_to_timestamp(col):
    """Excel stores date cells as day serials (45875.69…); converting
    needs the 1899-12-30 epoch (which absorbs Excel's phantom
    1900-02-29). The stdlib parser surfaces the raw serial — apply this
    to columns you know are date-styled."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds((c - 25569) * 86400)
