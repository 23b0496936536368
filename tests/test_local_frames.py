"""`sources.local.local_frame`: every driver-built table is a JVM
`LocalRelation`, never a Python-worker scan.

For each schema shape the package's call sites use, the helper's frame
plans to a `LocalTableScan`, its executed RDD lineage holds no
`PythonRDD`, and its rows equal what the list path
(`spark.createDataFrame(rows, schema)`) returns, under the UTC session
and under the hostile session timezone of test_hostile_session.py. A
wrongly typed value raises instead of being coerced, and no package
module calls `createDataFrame` anywhere but the helper.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

from ad_data_pipelines_spark.sources.local import local_frame
from tests.test_hostile_session import HOSTILE_TZ

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / (
    "ad_data_pipelines_spark"
)

SHAPES = {
    "bigint": ("a bigint, b bigint", [(1, -(2**62)), (3, 4)]),
    "int": ("name string, ring_points int", [("x", 7), ("y", -(2**31))]),
    "double": ("prob double", [(0.5,), (1e-300,), (float("nan"),)]),
    "boolean": (
        "__shard bigint, __on_second boolean", [(0, True), (1, False)]
    ),
    "string": ("query_id bigint, term string", [(1, "straße"), (2, "")]),
    "array_double": (
        "cell_id bigint, cent_emb array<double>",
        [(0, [0.25, -1.5]), (1, []), (2, [None, 3.0])],
    ),
    "array_bigint": (
        "cell_id bigint, n_members bigint, centroid_fp array<bigint>",
        [(0, 3, [1, -2, 2**40]), (1, 0, [])],
    ),
    "nulls": (
        "a bigint, b double, c boolean, d string, e array<double>",
        [(None, None, None, None, None), (1, 2.0, True, "z", [1.0])],
    ),
    "zero_rows": ("node bigint, side string, score_fp bigint", []),
}


def _scan_lineage(df) -> tuple[str, str]:
    plan = df._jdf.queryExecution().executedPlan()
    return plan.toString(), plan.execute().toDebugString()


def _rows(df):
    # NaN != NaN: compare a printable form
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("tz", ["UTC", HOSTILE_TZ])
@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_local_frame_is_local_table_scan_matching_list_path(
    spark, shape, tz
):
    ddl, rows = SHAPES[shape]
    orig_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", tz)
        df = local_frame(spark, rows, ddl)
        plan, lineage = _scan_lineage(df)
        assert plan.startswith("LocalTableScan"), plan
        assert "PythonRDD" not in lineage, lineage
        old = spark.createDataFrame(rows, ddl)
        assert df.schema == old.schema
        assert _rows(df) == _rows(old)
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig_tz)


def test_list_path_is_a_python_worker_scan(spark):
    """The control for the lineage check above: the list path's RDD is
    a PythonRDD, so the assertion can fail."""
    _, lineage = _scan_lineage(spark.createDataFrame([(1,)], "a bigint"))
    assert "PythonRDD" in lineage


@pytest.mark.parametrize(
    "ddl, value",
    [
        ("a bigint", 1.5),
        ("a bigint", "1"),
        ("a bigint", True),
        ("a int", 2**31),
        ("a double", "0.5"),
        ("a double", 1),
        ("a string", 1),
        ("a array<bigint>", [1.0]),
    ],
)
def test_wrong_type_raises_not_coerced(spark, ddl, value):
    # the list path's verifier: TypeError for a type, ValueError for an
    # out-of-range int
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [(value,)], ddl)


def test_row_width_must_match_schema(spark):
    with pytest.raises(Exception, match="(?i)length"):
        local_frame(spark, [(1, 2)], "a bigint")


def test_vdv_dimension_with_casts_folds_to_local_table_scan(spark, tmp_path):
    """A typed VDV read (string frame + per-column casts) plans to one
    LocalTableScan: the casts fold into the relation at optimization
    time, and the values are the cast ones."""
    from pyspark.sql.types import StructType

    from ad_data_pipelines_spark.sources.vdv import read_vdv

    p = tmp_path / "line.x10"
    p.write_text(
        "tbl; LINE\natr; LINE_NO; LINE_ABBR\nfrm; num[6.0]; char[6]\n"
        'rec; 10; "R1"\nrec; 11; ""\nend; 2\n',
        encoding="utf-8",
    )
    df = read_vdv(
        spark, str(p), "LINE",
        schema=StructType.fromDDL("LINE_NO int, LINE_ABBR string"),
    )
    plan, lineage = _scan_lineage(df)
    assert plan.startswith("LocalTableScan"), plan
    assert "PythonRDD" not in lineage
    assert df.dtypes == [("LINE_NO", "int"), ("LINE_ABBR", "string")]
    assert sorted(map(tuple, df.collect())) == [(10, "R1"), (11, None)]


def test_no_create_dataframe_outside_the_helper():
    """Every driver-built frame goes through `local_frame`: an AST scan
    of the package finds `createDataFrame(` only inside it."""
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        helper = [
            n for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                inside = any(
                    f.lineno <= node.lineno <= f.end_lineno for f in helper
                )
                calls.append((str(path.relative_to(PACKAGE)), inside))
    assert calls == [("sources/local.py", True)], calls
