"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import TESTDATA, WORKLOADS  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.json")


# --- event log and spans -------------------------------------------------

def test_eventlog_parser_attributes_tasks_by_description():
    by, heap_peak_mb = tracing.parse_eventlog(FIXTURE)
    build = by["pass1/g1/build"]
    assert build["jobs"] == 1 and build["stages"] == 1
    assert build["tasks"] == 2 and build["tasks_failed"] == 1
    assert build["cpu_s"] == pytest.approx(4.0)
    assert build["run_s"] == pytest.approx(5.0)
    assert build["gc_s"] == pytest.approx(0.2)
    assert build["shuffle_read_mb"] == pytest.approx(4.0)
    assert build["shuffle_write_mb"] == pytest.approx(4.0)
    assert build["spill_mb"] == pytest.approx(2.0)
    assert build["input_mb"] == pytest.approx(6.0)
    assert build["input_rows"] == 2000
    collect = by["pass1/g1/collect"]
    assert (collect["jobs"], collect["tasks"]) == (1, 1)
    assert collect["cpu_s"] == pytest.approx(0.5)
    # only the Python-worker node's metrics count, not the scan's rows
    assert collect["py_rows"] == 500
    assert collect["py_sent_mb"] == pytest.approx(1.0)
    assert collect["py_returned_mb"] == pytest.approx(2.0)
    assert "py_rows" not in build
    assert by[""]["jobs"] == 1  # a job launched outside any span
    assert heap_peak_mb == pytest.approx(300.0)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 8.0, "end": 9.0},
        {"id": 4, "parent": 3, "start": 8.5, "end": 9.0},
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(0.5)


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer()
    with tr.span("pass0", "pass"):
        with tr.span("g1", "unit"):
            pass
    assert tr.spans == []


# --- metric names --------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    names = [*e2e, *layer, *WORKLOADS]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    assert next(m for m in spec["end_to_end"] if m["name"] == "setup_s")[
        "bound"] == max(m["bound"] for m in spec["end_to_end"])


# --- digest and the new-application self-test (Spark) -------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run.pin_environment(work)
    session = run.start_session(work)
    yield session
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    run.shutdown_jvm()


def test_digest_ignores_partitioning_order_and_audit_columns(spark, tmp_path):
    rows = [(i, f"k{i % 7}", i / 3.0, f"2025-01-0{1 + i % 9}") for i in
            range(200)]
    df = spark.createDataFrame(rows, "id long, key string, x double, "
                                     "create_time string")
    one = df.coalesce(1)
    many = df.repartition(5, "key")
    assert check.digest(one.collect(), one.columns) == check.digest(
        many.collect(), many.columns)
    noisy = [(i, k, x + 1e-12, "2030-01-01") for i, k, x, _ in rows]
    assert check.digest(noisy, df.columns) == check.digest(rows, df.columns)
    changed = rows[:-1] + [(199, "k3", 0.5, "2025-01-01")]
    assert check.digest(changed, df.columns) != check.digest(rows, df.columns)
    # the CSV sink path: written in 5 partitions vs 1, read back
    many.write.option("header", True).csv(str(tmp_path / "many"))
    one.write.option("header", True).csv(str(tmp_path / "one"))
    a = check.digest(*check.read_csv_dir(str(tmp_path / "many")))
    b = check.digest(*check.read_csv_dir(str(tmp_path / "one")))
    assert a == b and a[0] == 200


def test_new_application_relaunches_shared_stage_jobs(spark, tmp_path):
    """The shared-stage memo is keyed by application: inside one
    application a second build is served from it, and a new application
    (each set-up round starts one) launches the stage's jobs again."""
    from ad_data_pipelines_spark.plans.testdata_queries import (
        _shared_stages_map)

    build = _shared_stages_map()["trade_edges"]

    def jobs_launched(session, group):
        sc = session.sparkContext
        sc.setJobGroup(group, "trade_edges")
        build(session, TESTDATA).count()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    built = jobs_launched(spark, "first")
    served = jobs_launched(spark, "again")
    assert served < built  # the memo serves the stage; only count() runs
    spark.stop()
    fresh = run.start_session(str(tmp_path / "work2"))
    assert jobs_launched(fresh, "fresh") == built
