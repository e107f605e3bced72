"""Driver-built relations that start no Python worker.

``spark.createDataFrame(<python list>)`` plans as
``applySchemaToPythonRDD``: a pickled-row PythonRDD whose tasks fork a
second ``pyspark.daemon`` per executor next to the Arrow UDF family.
:func:`local_table` ships the columns to the JVM as one Arrow table
instead, which plans as a ``LocalTableScan`` (zero rows included), so
Python runs on executors only inside Arrow UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_table(
    spark: SparkSession, columns: Sequence[Sequence], ddl: str
) -> DataFrame:
    """A relation with schema ``ddl`` holding ``columns``, one value
    sequence per schema field, in field order.  It plans as a
    ``LocalTableScan``; above ``arrow.localRelationThreshold`` bytes the
    JVM parallelizes the Arrow batches itself, still without Python."""
    schema = StructType.fromDDL(ddl)
    # createDataFrame casts the inferred Arrow types to ``schema``; a
    # pyarrow table takes the Arrow path whatever the session's
    # arrow.pyspark settings, and never falls back to pickled rows
    table = pa.table(
        {f.name: list(c) for f, c in zip(schema.fields, columns, strict=True)}
    )
    return spark.createDataFrame(table, schema)
