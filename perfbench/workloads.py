"""The benchmark's workloads.

Each workload prepares its inputs (generated from the seed, or the
fixed testdata tables), builds the shared stages it reads in set-up,
and runs one pass: every unit (a pipeline, a registry query or a job)
from inputs to an output written or collected. Spans mark the calls
into each layer: ``sources`` (readers), ``plans`` (builder calls,
including the eager jobs a builder launches), ``action`` (the collect
that executes a registry plan), ``jobs`` (a ``jobs.*`` entry point) and
``sink`` (the CSV writer).
"""

from __future__ import annotations

import os
import random
import time
from typing import NamedTuple

import gen
from check import (digest, oracle_connection, oracle_mismatch,
                   read_csv_dir, read_parquet_dir)

#: the fixed registry tables: a copy of the seed-42 TPC-H-like testdata
#: at scale factor 0.01 (star schema plus events, documents, embeddings)
TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "testdata", "sf0.01")
#: AFC journey legs per transit batch
TRANSIT_LEGS = 50_000


def _timed_units(names, run_unit):
    """Run units in order; {unit: (seconds, output or exception)}."""
    out = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            res = run_unit(name)
        except Exception as exc:  # a failed unit is counted, not fatal
            res = exc
        out[name] = (time.perf_counter() - t0, res)
    return out


class TransitBatch:
    """The nine ads_* builds and the three dwd_bus_route outputs over
    one generated AFC batch, written as CSV with Spark's writer."""

    name = "transit_batch"
    UNITS = ("ads_travel_info", "ads_travel_info_hll", "ads_travel_time",
             "ads_stop_trips", "ads_transfer_count", "ads_travel_distance",
             "ads_route_trips", "ads_ridership", "ads_revenue",
             "dwd_route_stop_info", "dwd_stop_info", "dwd_route_info")

    def inputs(self, work: str, seed: int) -> str:
        gen.write_transit(work, seed, TRANSIT_LEGS)
        return work

    def shared(self, spark, tracer, inp: str) -> dict[str, float]:
        return {}

    def order(self, seed: int) -> list[str]:
        return list(self.UNITS)

    def _read(self, spark, tracer, inp: str) -> dict:
        from pyspark.sql.types import StructType

        from ad_data_pipelines_spark.schemas import (
            VDV_LINE, VDV_OPERATING_DEPARTMENT, VDV_ROUTE_SEQUENCE, VDV_STOP)
        from ad_data_pipelines_spark.sources.sideinputs import (
            read_geojson_polygons)
        from ad_data_pipelines_spark.sources.vdv import read_vdv

        def vdv(table, schema):
            return read_vdv(spark, f"{inp}/{table.lower()}.x10", table,
                            schema=schema)

        with tracer.span("read", "sources"):
            return {
                "legs": spark.read.parquet(f"{inp}/afc_legs.parquet"),
                "sales": spark.read.parquet(f"{inp}/sales.parquet"),
                "line": vdv("LINE", VDV_LINE),
                "opdep": vdv("OPERATING_DEPARTMENT", VDV_OPERATING_DEPARTMENT),
                "routes": vdv("ROUTE", StructType.fromDDL(
                    "LINE_NO int, ROUTE_NO int, DIRECTION string")),
                "route_seq": vdv("ROUTE_SEQUENCE", VDV_ROUTE_SEQUENCE),
                "stop": vdv("STOP", VDV_STOP),
                "polygons": read_geojson_polygons(
                    spark, f"{inp}/regions.geojson")[1],
                "avm": spark.read.csv(f"{inp}/avm_day_type.csv", header=True,
                                      schema="OPD_DATE date, DAY_TYPE string"),
                "svc": spark.read.csv(
                    f"{inp}/service_type.csv", header=True,
                    schema="Route string, Region string, ServiceType string"),
            }

    @staticmethod
    def _builders(s: dict) -> dict:
        from ad_data_pipelines_spark.plans import (
            ads_revenue, ads_ridership, ads_route_trips, ads_stop_trips,
            ads_transfer_count, ads_travel_distance, ads_travel_info,
            ads_travel_time, dwd_bus_route)

        legs, line, opdep = s["legs"], s["line"], s["opdep"]
        return {
            "ads_travel_info": lambda: ads_travel_info.build(legs, line, opdep),
            "ads_travel_info_hll": lambda: ads_travel_info.build(
                legs, line, opdep, exact_distinct=False),
            "ads_travel_time": lambda: ads_travel_time.build(legs, line),
            "ads_stop_trips": lambda: ads_stop_trips.build(legs, s["avm"]),
            "ads_transfer_count": lambda: ads_transfer_count.build(
                legs, line, opdep),
            "ads_travel_distance": lambda: ads_travel_distance.build(
                legs, line, opdep),
            "ads_route_trips": lambda: ads_route_trips.build(legs),
            "ads_ridership": lambda: ads_ridership.build(legs, line, s["svc"]),
            "ads_revenue": lambda: ads_revenue.build(s["sales"]),
            "dwd_route_stop_info": lambda: dwd_bus_route.build_route_stop_info(
                s["route_seq"], s["routes"]),
            "dwd_stop_info": lambda: dwd_bus_route.build_stop_info(
                s["stop"], s["polygons"]),
            "dwd_route_info": lambda: dwd_bus_route.build_route_info(
                s["route_seq"], s["stop"]),
        }

    def run_pass(self, spark, tracer, inp: str, out: str, order, plan_hook):
        builders = self._builders(self._read(spark, tracer, inp))

        def run_unit(name):
            with tracer.span(name, "unit"):
                with tracer.span("build", "plans"):
                    df = builders[name]()
                plan_hook(name, df, before_action=True)
                with tracer.span("write", "sink"):
                    df.write.mode("overwrite").option("header", True).csv(
                        f"{out}/{name}")
            return f"{out}/{name}"

        return _timed_units(order, run_unit)

    def digest(self, output) -> tuple[int, str]:
        rows, header = read_csv_dir(output)
        return digest(rows, header)

    def oracle_mismatches(self, inp: str, units: dict):
        return []  # transit outputs are checked against recorded digests


class CurateResult(NamedTuple):
    stats: dict
    path: str
    stage_s: dict[str, float]


class GraphCorpusLLM:
    """Registry queries over the fixed testdata tables, each collected
    to the driver, plus the ``jobs.curate_corpus.curate`` job over the
    tables' documents; the shared stage the graph queries read is built
    in set-up. The seed sets only the unit order."""

    name = "graph_corpus_llm"
    #: eager fixpoints (ROADMAP's g14 and g1 targets), then the Arrow
    #: mapInPandas queries of operators/multimodal.py
    QUERIES = ("g1_pagerank_suppliers", "g14_hits_authorities",
               "llm_mm_binary_meta", "llm_mm_frame_sample",
               "llm_mm_decode_resize")
    STAGES = ("trade_edges",)
    CURATE = "curate"

    def inputs(self, work: str, seed: int) -> str:
        return TESTDATA

    def shared(self, spark, tracer, inp: str) -> dict[str, float]:
        from ad_data_pipelines_spark.plans.testdata_queries import (
            _shared_stages_map)

        build = _shared_stages_map()
        costs = {}
        for stage in self.STAGES:
            t0 = time.perf_counter()
            with tracer.span(stage, "plans.shared"):
                build[stage](spark, inp).count()
            costs[stage] = time.perf_counter() - t0
        return costs

    def order(self, seed: int) -> list[str]:
        names = [*self.QUERIES, self.CURATE]
        random.Random(seed).shuffle(names)
        return names

    def run_pass(self, spark, tracer, inp: str, out: str, order, plan_hook):
        from ad_data_pipelines_spark.jobs.curate_corpus import curate
        from ad_data_pipelines_spark.plans.testdata_queries import REGISTRY

        def run_unit(name):
            with tracer.span(name, "unit"):
                if name == self.CURATE:
                    docs = spark.read.parquet(f"{inp}/documents.parquet")
                    stage_s: dict[str, float] = {}
                    with tracer.span("run", "jobs"):
                        stats = curate(spark, docs, f"{out}/curate",
                                       stage_timings=stage_s)
                    return CurateResult(stats, f"{out}/curate/documents",
                                        stage_s)
                with tracer.span("build", "plans"):
                    df = REGISTRY[name].fn(spark, inp)
                with tracer.span("collect", "action"):
                    rows = df.collect()
            plan_hook(name, df, before_action=False)
            return rows, df.columns

        return _timed_units(order, run_unit)

    def digest(self, output) -> tuple[int, str]:
        if isinstance(output, CurateResult):
            n, docs = digest(*read_parquet_dir(output.path))
            _, stats = digest(list(output.stats.items()), ["stat", "value"])
            return n, docs[:8] + stats[:8]
        return digest(*output)

    def oracle_mismatches(self, inp: str, units: dict):
        """(unit, why) for each collected query that differs from its
        DuckDB oracle over the same parquet files."""
        from ad_data_pipelines_spark.plans.testdata_queries import REGISTRY

        con = oracle_connection(inp)
        try:
            for unit, (_, res) in units.items():
                if unit == self.CURATE or isinstance(res, Exception):
                    continue
                sql = REGISTRY[unit].oracle
                if sql:
                    why = oracle_mismatch(con, sql, *res)
                    if why:
                        yield unit, why
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (TransitBatch(), GraphCorpusLLM())}
