"""Global rank and running sum without a single-partition window.

``row_number() OVER (ORDER BY …)`` with no PARTITION BY collapses the
whole relation into one task.  Both functions here run in two passes:

1. sort by the key (range partitioning + in-partition sort), tag every
   row with its partition id ``_pid`` and ``localCheckpoint`` the result,
   so pass 2 reads the very partitions pass 1 counted;
2. collect one aggregate per partition (#partitions rows), turn it into
   exclusive prefix offsets on the driver, and add each row's offset to
   a per-partition window value.

Callers order by a TOTAL order (tie-broken by id), so the output does
not depend on the partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from selfclean_spark.functions.local_table import local_table


def _sorted_with_pid(
    df: DataFrame, order_cols: list[Column], num_partitions: int | None
) -> DataFrame:
    """Pass 1. ``orderBy`` lets AQE size the range partitions by data
    bytes; an explicit ``num_partitions`` pins ``repartitionByRange``."""
    if num_partitions is not None:
        n_parts = max(1, min(num_partitions, 2000))
        sorted_plan = df.repartitionByRange(
            n_parts, *order_cols
        ).sortWithinPartitions(*order_cols)
    else:
        sorted_plan = df.orderBy(*order_cols)
    return sorted_plan.withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)


def _partition_offsets(sorted_df: DataFrame, total: Column) -> dict[int, int]:
    """Exclusive prefix sums of ``total`` per non-empty ``_pid``."""
    rows = sorted_df.groupBy("_pid").agg(total.alias("_t")).collect()
    offsets, running = {}, 0
    for row in sorted(rows, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = running
        running += row["_t"]
    return offsets


def _add_offsets(
    sorted_df: DataFrame, offsets: dict[int, int], local: Column, out_col: str
) -> DataFrame:
    """``out_col`` = the row's partition offset + its ``local`` window
    value, through a broadcast join on a driver-built offsets table."""
    offsets_df = F.broadcast(
        local_table(
            sorted_df.sparkSession,
            [list(offsets), list(offsets.values())],
            "_pid int, _offset long",
        )
    )
    return (
        sorted_df.withColumn("_local", local)
        .join(offsets_df, "_pid")
        .withColumn(out_col, (F.col("_offset") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_offset")
    )


def with_global_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a 1-based dense global ``rank_col`` ordered by ``order_cols``.

    The result is range-partitioned and sorted by the key, so a
    downstream ``orderBy(rank)`` needs no shuffle.  Ranks equal a
    single-partition ``row_number`` for any partitioning, empty range
    partitions included; an empty input gives an empty result with the
    same schema.
    """
    sorted_df = _sorted_with_pid(df, order_cols, num_partitions)
    offsets = _partition_offsets(sorted_df, F.count(F.lit(1)))
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return _add_offsets(sorted_df, offsets, F.row_number().over(w), rank_col)


def with_global_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
    impl: str = "window",
) -> DataFrame:
    """Add an INCLUSIVE global running sum of ``value_col`` ordered by
    ``order_cols``; it equals a single-partition window sum for any
    partitioning.

    Pass 2 has two implementations with identical output:

    - ``impl="window"``: a per-``_pid`` window plus the broadcast offset
      join; all JVM, but the window's clustering adds a second corpus
      Exchange (hashpartitioning on ``_pid``).  Faster in local mode,
      where that exchange is a memory copy.
    - ``impl="arrow"``: a ``mapInPandas`` running sum over the sorted
      partitions; no extra Exchange, for clusters where the shuffle
      costs network and disk.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    sorted_df = _sorted_with_pid(df, order_cols, num_partitions)
    offsets = _partition_offsets(sorted_df, F.sum(value_col).cast("long"))

    if impl == "window":
        w = (
            Window.partitionBy("_pid")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return _add_offsets(sorted_df, offsets, F.sum(value_col).over(w), cumsum_col)
    if impl != "arrow":
        raise ValueError(f"impl must be 'window' or 'arrow', got {impl!r}")

    offsets_b = df.sparkSession.sparkContext.broadcast(offsets)
    out_schema = StructType(
        sorted_df.schema.fields + [StructField(cumsum_col, LongType(), False)]
    )

    def _cumsum(batches):
        run = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = int(offsets_b.value[int(pdf["_pid"].iloc[0])])
            cs = pdf[value_col].astype("int64").cumsum() + run
            run = int(cs.iloc[-1])
            pdf = pdf.copy()
            pdf[cumsum_col] = cs.astype("int64")
            yield pdf

    return sorted_df.mapInPandas(_cumsum, out_schema).drop("_pid")
