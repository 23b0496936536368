"""Driver-built tables as JVM `LocalRelation`s — the one way the package
turns Python rows into a DataFrame.

`spark.createDataFrame(list_of_rows, schema)` builds a `PythonRDD`
(`ParallelCollectionRDD → PythonRDD → SerDeUtil →
applySchemaToPythonRDD`): every job that scans the frame starts Python
workers to unpickle the rows again, and the plan node is
`Scan ExistingRDD`, whose size the optimizer can only guess.
`local_frame` instead hands Spark a `pyarrow.Table` typed from the
Spark schema. Below `spark.sql.execution.arrow.localRelationThreshold`
(48 MB) Spark turns it into a `LocalRelation` (`LocalTableScan`, exact
size statistics, folded with projections and filters at optimization
time); larger tables become a JVM-only RDD of Arrow batches. Neither
involves a Python worker.

Values are checked against the schema with the same verifier the list
path applies (a float in a bigint column raises instead of being
truncated by Arrow's conversion), so a row the list path rejected is
still rejected.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """`rows` (tuples or lists, one value per schema field) as a
    DataFrame with exactly `schema` (a StructType or a DDL string)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = [tuple(r) for r in rows]
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
