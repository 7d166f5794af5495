"""Driver-built constant tables (config maps, dispatch rows, bucket
lists) as JVM ``LocalRelation`` leaves.

``spark.createDataFrame(<python list>, ddl)`` plans as a pickled
``PythonRDD`` under ``applySchemaToPythonRDD`` (a ``LogicalRDD`` leaf):
every scan of it — one per join that reads it, one per action —
re-runs Python workers to unpickle the rows. An Arrow table with the
DDL's schema goes to the JVM once and plans as a ``LocalRelation``,
which Catalyst reads in the driver (and broadcasts) with no Python
worker at all.

The pandas route is not used on purpose: it silently falls back to the
``PythonRDD`` path when the frame is empty or Arrow conversion fails.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


def local_table(spark: SparkSession, rows: Iterable, ddl: str) -> DataFrame:
    """``rows`` (mappings keyed by column name, or tuples in the DDL's
    column order) -> a DataFrame with exactly the schema ``ddl``
    declares, planned as a ``LocalRelation``. Values are converted to
    the DDL's Arrow types; a value that does not fit raises."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = DataType.fromDDL(ddl)
    names = schema.fieldNames()
    records = [r if isinstance(r, Mapping) else dict(zip(names, r, strict=True))
               for r in rows]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
