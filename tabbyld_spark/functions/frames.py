"""Driver-built frames: rows the driver holds (schema closures, rule tables,
weight vectors, lookup lists) turned into a DataFrame the JVM holds.

``spark.createDataFrame(<python list>)`` goes ``_createFromLocal`` →
``parallelize`` → a *Python* RDD: the frame plans as ``Scan ExistingRDD``
over pickled rows, so every action on it, and every ``BroadcastExchange``
of it, runs a job whose tasks unpickle the rows in Python workers.  A job
that touches such a frame starts the Python daemon and one worker per core
for a handful of rows: in a cold ``publish`` job on 4 vCPUs, each of the
11 concurrent broadcast jobs over 1-4-row schema and closure tables took
1.5-2.2 s of wall.

:func:`local_frame` ships the rows to the JVM once, as one Arrow table,
and gets back a ``LocalRelation``: the frame plans as ``LocalTableScan``,
its broadcast is built on the driver, and no Python worker starts.  The
Arrow-table path does not depend on ``spark.sql.execution.arrow.pyspark.
enabled`` and, unlike the pandas path, keeps empty row lists local too.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["local_frame"]


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) → a frame that plans as
    ``LocalTableScan``.  ``schema`` is a DDL string or a ``StructType``.
    Meant for driver-sized row lists: every row passes through driver
    memory."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
