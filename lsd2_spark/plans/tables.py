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

Every row-to-cell assignment of the engine is one :func:`probe_join`:
ingest, append and rebalance place rows in leaves
(``catalog._place``), a cross-match assigns rows to its join cells and
their halos (``crossmatch._assign``), and the margin export assigns
rows to the rings around leaves (``margins.margin_rows``).  Cells of
any orders share one table, keyed by their NUNIQ number (:func:`uniq`).
"""

from __future__ import annotations

from typing import Mapping

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["plan_table", "probe_join", "uniq", "uniq_cell"]


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


def uniq(order, pix):
    """The NUNIQ number ``4^(order+1) + pix`` of nested pixels at
    ``order`` (ints, int64 arrays or Columns): unique across orders,
    with the order in the leading bits."""
    return (4 << 2 * order) + pix


def uniq_cell(u: int) -> tuple[int, int]:
    """(order, pix) of a NUNIQ number: inverse of :func:`uniq`."""
    order = (u.bit_length() - 3) // 2
    return order, u - (4 << 2 * order)


def probe_join(
    rows: DataFrame,
    pix: Column,
    pix_order: int,
    cells: tuple[np.ndarray, np.ndarray],
    payload: Mapping[str, object],
    schema: str,
) -> DataFrame:
    """``rows`` joined to the cells that hold them: row ``i`` of the
    plan table is the cell ``(order[i], pix[i])`` of ``cells`` and the
    ``payload`` columns' row ``i`` (``schema``, a DDL string, types
    them).  ``pix`` is each row's pixel at ``pix_order``, no coarser
    than any cell.

    Each row probes the table with its pixel at every distinct cell
    order (a shift of ``pix``, keyed by :func:`uniq`): one explode and
    one broadcast equi-join, pipelined in one stage, with no explode
    when the cells share one order.  A row joins once per cell that
    holds it; the caller filters and projects the payload columns.  A
    NULL pixel joins nothing."""
    order, cell_pix = (np.asarray(a, dtype=np.int64) for a in cells)
    table = F.broadcast(plan_table(
        rows.sparkSession,
        {"_probe": uniq(order, cell_pix), **payload},
        f"_probe long, {schema}",
    ))

    def probe(p: Column, o: int) -> Column:
        return uniq(o, F.shiftright(p, 2 * (pix_order - o)))

    orders = np.unique(order).tolist()
    if len(orders) == 1:
        # no explode: measured ~30% cheaper than the general path on the
        # q21 bench's single-order cross-match
        keyed = rows.withColumn("_probe", probe(pix, orders[0]))
    else:
        keyed = (
            rows.withColumn("_pix", pix)
            .withColumn("_probe", F.explode(F.array(*[probe(F.col("_pix"), o) for o in orders])))
            .drop("_pix")
        )
    return keyed.join(table, "_probe").drop("_probe")
