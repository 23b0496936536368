"""Seeded transit input generator for the benchmark.

``write_transit`` writes, under a directory the caller owns, AFC
journey legs and ticket sales as parquet, and the dimension files in
their reference formats: VDV ``.x10`` (headered dialect) LINE /
OPERATING_DEPARTMENT / ROUTE / ROUTE_SEQUENCE / STOP, GeoJSON regions,
the AVM day-type CSV and the service-type lookup CSV. The same seed
always writes byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.datetime(1970, 1, 1)


def _us(day: str) -> int:
    return int((dt.datetime.fromisoformat(day) - _EPOCH).total_seconds() * 1e6)


def _ts(values: np.ndarray) -> pa.Array:
    """Microsecond timestamps, UTC-adjusted (read by Spark as
    TIMESTAMP)."""
    return pa.array(values.astype("int64"), pa.timestamp("us", tz="UTC"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


_REGIONS = {"AD": "Abu Dhabi", "ER": "Al Ain", "WR": "Al Dhafra"}


def _x10(tables: dict[str, tuple[list[str], list[str], list[tuple]]]) -> str:
    """Headered VDV dialect: tbl/atr/frm/rec/end blocks."""
    lines = ["mod; DD.MM.YYYY; HH:MM:SS; free", "src; \"perfbench\"; \"\""]
    for name, (cols, types, rows) in tables.items():
        lines += [f"tbl; {name}", "atr; " + "; ".join(cols),
                  "frm; " + "; ".join(types)]
        for r in rows:
            lines.append("rec; " + "; ".join(
                f'"{v}"' if isinstance(v, str) else str(v) for v in r))
        lines.append("end; " + str(len(rows)))
    return "\n".join(lines) + "\neof; " + str(len(tables)) + "\n"


def write_transit(out: str, seed: int, n_legs: int) -> dict[str, int]:
    """Write one network's dimension files and ~``n_legs`` AFC legs."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_lines, n_stops, seq_len = 120, 1_500, 25

    # -- VDV dimensions: lines across three operating departments
    deps = [(11, "AD-City"), (12, "AD-Suburb"), (21, "ER-East"),
            (-31, "WR-West"), (99, "XX-Other")]
    dep_ids = [d for d, _ in deps]
    abbrs = [f"{'ABW'[i % 3]}{i}" for i in range(n_lines)]
    line_rows = [(1, i, abbrs[i], int(rng.choice(dep_ids)), f"Route {abbrs[i]}")
                 for i in range(n_lines)]
    # duplicate LINE_ABBR rows: the dedup keep-first path
    line_rows += [(1, n_lines + k, abbrs[k], 99, f"Route {abbrs[k]} dup")
                  for k in range(0, n_lines, 17)]
    route_rows = [(i, 1, "OUTBOUND" if i % 2 else "INBOUND")
                  for i in range(n_lines)]
    seq_rows = []
    for i in range(n_lines):
        stops = rng.choice(n_stops, seq_len, replace=False)
        seq_rows += [(1, i, f"{abbrs[i]}-OUT", 1, k + 1, int(s), 1)
                     for k, s in enumerate(stops)]
    # DDDMMSSmmm coordinates around Abu Dhabi (53.9-55.0 E, 23.9-25.0 N)
    def dms(deg: float) -> int:
        d = int(deg)
        m = int((deg - d) * 60)
        s = (deg - d - m / 60) * 3600
        return d * 10_000_000 + m * 100_000 + int(round(s * 1000))

    stop_rows = [(1, p, 1, dms(53.9 + rng.random() * 1.1),
                  dms(23.9 + rng.random() * 1.1), f"Stop {p}")
                 for p in range(n_stops)]
    x10 = {
        "LINE": (["BASE_VERSION", "LINE_NO", "LINE_ABBR", "OP_DEP_NO",
                  "LINE_DESC"], ["num[9.0]", "num[6.0]", "char[6]",
                                 "num[3.0]", "char[40]"], line_rows),
        "OPERATING_DEPARTMENT": (["OP_DEP_NO", "OP_DEP_ABBR"],
                                 ["num[3.0]", "char[20]"], deps),
        "ROUTE": (["LINE_NO", "ROUTE_NO", "DIRECTION"],
                  ["num[6.0]", "num[3.0]", "char[10]"], route_rows),
        "ROUTE_SEQUENCE": (["BASE_VERSION", "LINE_NO", "ROUTE_ABBR",
                            "ROUTE_NO", "SEQUENCE_NO", "POINT_NO",
                            "POINT_TYPE"], ["num[9.0]"] * 2 + ["char[12]"]
                           + ["num[6.0]"] * 4, seq_rows),
        "STOP": (["BASE_VERSION", "POINT_NO", "POINT_TYPE",
                  "POINT_LONGITUDE", "POINT_LATITUDE", "STOP_DESC"],
                 ["num[9.0]", "num[9.0]", "num[2.0]", "num[10.0]",
                  "num[10.0]", "char[40]"], stop_rows),
    }
    for name, block in x10.items():
        with open(f"{out}/{name.lower()}.x10", "w", encoding="utf-8") as f:
            f.write(_x10({name: block}))

    regions = {"west": [(53.9, 23.9), (54.45, 23.9), (54.45, 25.0),
                        (53.9, 25.0)],
               "east": [(54.45, 23.9), (55.0, 23.9), (55.0, 25.0),
                        (54.45, 25.0)]}
    with open(f"{out}/regions.geojson", "w", encoding="utf-8") as f:
        json.dump({"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"NAME_2": k},
             "geometry": {"type": "Polygon",
                          "coordinates": [[list(p) for p in ring + ring[:1]]]}}
            for k, ring in regions.items()]}, f)

    day0 = dt.date(2025, 1, 1)
    n_days = 90
    with open(f"{out}/avm_day_type.csv", "w", encoding="utf-8") as f:
        f.write("OPD_DATE,DAY_TYPE\n")
        for d in range(n_days + 1):
            day = day0 + dt.timedelta(days=d)
            f.write(f"{day},{'weekend' if day.weekday() >= 5 else 'weekday'}\n")
    with open(f"{out}/service_type.csv", "w", encoding="utf-8") as f:
        f.write("Route,Region,ServiceType\n")
        region_names = list(_REGIONS.values())
        for i, a in enumerate(abbrs):
            f.write(f"{a},{region_names[i % 3]},"
                    f"{'Local' if i % 2 else 'Regional'}\n")
        f.write("ADL,,\n")

    # -- AFC legs: journeys of 1-4 legs over a 90-day window
    n_j = n_legs * 10 // 18  # mean legs/journey = 1.8
    legs_per = rng.choice([1, 2, 3, 4], n_j, p=[0.45, 0.35, 0.15, 0.05])
    n = int(legs_per.sum())
    j_of = np.repeat(np.arange(n_j), legs_per)
    first = np.cumsum(legs_per) - legs_per
    leg_id = np.arange(n) - np.repeat(first, legs_per) + 1
    uid_of_j = rng.integers(0, max(1, n_j // 6), n_j)
    j_start = (_us("2025-01-01") + rng.integers(0, n_days * 86_400, n_j)
               * 1_000_000)
    gaps = rng.integers(5 * 60, 50 * 60, n) * 1_000_000
    gaps[rng.random(n) < 0.01] *= 8  # >240 min transfers (clamp path)
    dur = rng.integers(3 * 60, 100 * 60, n) * 1_000_000
    dur[rng.random(n) < 0.005] *= -1  # negative durations
    offs = np.cumsum(gaps + np.abs(dur)) - (gaps + np.abs(dur))
    offs -= np.repeat(offs[first], legs_per)
    start = np.repeat(j_start, legs_per) + offs
    route_pick = rng.integers(0, n_lines, n)
    variant = rng.random(n)
    routes = np.array(abbrs, dtype=object)[route_pick]
    routes = np.where(variant < 0.05, np.char.lower(routes.astype(str)), routes)
    routes = np.where((variant >= 0.05) & (variant < 0.08),
                      np.char.add(routes.astype(str), "-"), routes)
    routes = np.where((variant >= 0.08) & (variant < 0.09), "-", routes)
    routes = np.where((variant >= 0.09) & (variant < 0.10), "ZZ9", routes)
    routes = np.where((variant >= 0.10) & (variant < 0.11), "ADL", routes)
    st = rng.integers(0, n_stops, (n, 2)).astype(str).astype(object)
    st[rng.random(n) < 0.02, 0] = "-"
    st[rng.random(n) < 0.02, 1] = "-"
    st[rng.random(n) < 0.01, 1] = None
    multi = np.repeat((legs_per > 1).astype("int32"), legs_per)
    _write(f"{out}/afc_legs.parquet", {
        "uid": pa.array([f"U{u}" for u in np.repeat(uid_of_j, legs_per)]),
        "journey_id": pa.array([f"J{j}" for j in j_of]),
        "leg_id": pa.array(leg_id.astype("int8")),
        "start_time": _ts(start),
        "end_time": _ts(start + dur),
        "route": pa.array(list(routes), pa.string()),
        "distance": pa.array(np.round(rng.uniform(0, 25_000, n)).astype(
            "float32")),
        "tripdir": pa.array(rng.integers(1, 3, n).astype("int32")),
        "start_station_no": pa.array(list(st[:, 0]), pa.string()),
        "end_station_no": pa.array(list(st[:, 1]), pa.string()),
        "boarding": pa.array(np.ones(n, "int32")),
        "is_multi_leg_journey_leg": pa.array(multi),
    })
    n_sales = max(1_000, n // 20)
    months = np.array([f"2025{m:02d}" for m in (1, 2, 3)])
    _write(f"{out}/sales.parquet", {
        "V_MONTH": months[rng.integers(0, 3, n_sales)],
        "PRODUCT": rng.choice(["CSC Card", "Paper Ticket", "CSC Topup"],
                              n_sales),
        "QTY": rng.integers(1, 20, n_sales).astype("int32"),
        "AMOUNT": _money(rng, n_sales, 1, 200),
        "REGION": rng.choice(list(_REGIONS.values()), n_sales),
    })
    return {"afc_legs": n, "sales": n_sales, "lines": len(line_rows),
            "stops": n_stops}
