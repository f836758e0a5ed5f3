"""Plan tables: driver-computed lookup tables (leaf sets, join cells,
halo rings) as Spark relations.

A plan table is built from columns into a ``pyarrow.Table``, which
``createDataFrame`` turns into a ``LocalRelation``: the rows travel
inside the query plan, so no Python worker ever sees them.
Broadcasting the table is a ``LocalTableScan`` under a
``BroadcastExchange``, which still collects the rows with one Spark job
of ``defaultParallelism`` tasks (a ``spark.range`` joined to a 100-row
plan table runs 2 jobs per ``collect`` where the scan alone runs 1).
A Python row list would instead become a ``LogicalRDD``, and every
broadcast of it would run a Spark job whose Python workers unpickle the
rows.

The table is handed over as Arrow, not as a pandas frame: the pandas
route silently falls back to the row-list path when its Arrow
conversion fails (``spark.sql.execution.arrow.pyspark.fallback.enabled``),
while a ``pyarrow.Table`` has no fallback to take.
"""

from __future__ import annotations

from typing import Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["plan_table"]


def plan_table(
    spark: SparkSession, columns: Mapping[str, object], schema: "str | StructType"
) -> DataFrame:
    """A local relation with ``schema`` (a DDL string or a StructType)
    whose column ``name`` holds ``columns[name]``: a NumPy array, a
    sequence, or a ``pyarrow.Array`` (list columns such as
    ``array<double>`` are passed as Arrow list arrays).  Columns are
    cast to the schema's types."""
    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pydict(
        {f.name: columns[f.name] for f in schema.fields}, schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
