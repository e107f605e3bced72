"""Scalable-rank utility and hot-key cap behaviors."""

import pytest
from pyspark.sql import functions as F

from selfclean_spark.functions.rank import with_global_rank
from selfclean_spark.operators.candidates import candidate_pairs, exact_duplicate_pairs


def test_with_global_rank_matches_sort(spark):
    df = spark.range(0, 500).select(
        F.col("id"), (F.xxhash64("id") % 1000).alias("score")
    )
    ranked = with_global_rank(df, [F.col("score").asc(), F.col("id").asc()])
    pdf = ranked.orderBy("rank").toPandas()
    assert list(pdf["rank"]) == list(range(1, 501))
    resorted = pdf.sort_values(["score", "id"]).reset_index(drop=True)
    assert list(resorted["rank"]) == list(range(1, 501))


def test_with_global_rank_single_partition_input(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 1.0), (3, 3.0)], "id long, s double")
    pdf = (
        with_global_rank(df, [F.col("s").asc()]).orderBy("rank").toPandas()
    )
    assert list(pdf["id"]) == [2, 3, 1]


def test_exact_dup_star_edges_for_giant_groups(spark):
    """Groups above pair_cap emit linear star edges, not m² pairs."""
    rows = [(i, "dup") for i in range(50)] + [(100, "uniq"), (200, "dup2"), (201, "dup2")]
    df = spark.createDataFrame(rows, "id long, content string").withColumn(
        "content_sha", F.sha2("content", 256)
    )
    pairs = exact_duplicate_pairs(df, pair_cap=10).collect()
    dup_pairs = [(r.id_a, r.id_b) for r in pairs if r.id_a < 100]
    # star: 49 edges from min id (0) instead of 50*49/2
    assert len(dup_pairs) == 49
    assert all(a == 0 for a, _ in dup_pairs)
    assert (200, 201) in {(r.id_a, r.id_b) for r in pairs}


def test_candidate_hot_bucket_dropped_and_logged(spark):
    from pyspark.sql import Observation

    rows = [(i, 7777) for i in range(30)] + [(100, 42), (101, 42)]
    bands = spark.createDataFrame(rows, "id long, band_hash long")
    obs = Observation("band_buckets")
    pairs = candidate_pairs(bands, band_bucket_cap=10, observation=obs)
    assert pairs.count() == 1  # only the small bucket pairs up
    assert obs.get == {"dropped_band_buckets": 1, "max_bucket_size": 30}


def test_with_global_rank_registers_no_persist(spark):
    """r6 contract inversion: the two-pass rank materializes its sorted
    frame with ``localCheckpoint`` (AQE-sized orderBy, lineage cut, no
    block-manager registration), so it must register NOTHING with the
    caching registry — checkpointed RDDs are released by Spark's
    ContextCleaner when the DataFrame goes out of scope, not by
    ``caching.clear()``.  Ranks stay correct and dense."""
    from selfclean_spark import caching

    caching.clear(blocking=True)
    df = spark.range(0, 200).select(
        F.col("id"), (F.xxhash64("id") % 13).alias("s")
    )
    ranked = with_global_rank(df, [F.col("s").asc(), F.col("id").asc()])
    rows = ranked.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, 201))
    assert caching.unpersist_all() == 0, (
        "with_global_rank must not register operator-level persists "
        "(r6 localCheckpoint shape)"
    )


@pytest.mark.parametrize("impl", ["window", "arrow"])
def test_with_global_cumsum_matches_single_partition_window(spark, impl):
    """Two-pass partition-offset cumsum == the single-partition window
    cumsum it replaces, on a skewed value column — for BOTH pass-2
    implementations (JVM window and zero-extra-Exchange Arrow)."""
    from selfclean_spark.functions.rank import with_global_cumsum

    df = spark.range(0, 500).select(
        F.col("id"), (F.xxhash64("id") % 97 + 100).alias("v")
    )
    got = {
        r.id: r.cumsum
        for r in with_global_cumsum(
            df, [F.col("id").asc()], "v", impl=impl
        ).collect()
    }
    rows = sorted(df.collect(), key=lambda r: r.id)
    running = 0
    for r in rows:
        running += r.v
        assert got[r.id] == running


_RANK_IMPLS = ["rank", "cumsum_window", "cumsum_arrow"]


def _ranked(df, impl, num_partitions=None):
    from selfclean_spark.functions.rank import with_global_cumsum

    order = [F.col("v").asc(), F.col("id").asc()]
    if impl == "rank":
        return with_global_rank(df, order, num_partitions=num_partitions)
    return with_global_cumsum(
        df, order, "v", num_partitions=num_partitions, impl=impl.split("_")[1]
    )


def _single_window(df, impl):
    from pyspark.sql import Window

    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    if impl == "rank":
        return df.withColumn("rank", F.row_number().over(w))
    return df.withColumn(
        "cumsum",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


@pytest.mark.parametrize("impl", _RANK_IMPLS)
def test_global_rank_and_cumsum_empty_input(spark, impl):
    """An empty input gives 0 rows with the schema of a non-empty run."""
    df = spark.range(0, 10).select("id", (F.col("id") % 3).alias("v"))
    want = _ranked(df, impl).schema
    got = _ranked(df.filter(F.lit(False)), impl)
    assert got.count() == 0
    assert got.schema == want


@pytest.mark.parametrize("layout", ["more_partitions_than_rows", "pid_gaps"])
@pytest.mark.parametrize("impl", _RANK_IMPLS)
def test_global_rank_and_cumsum_partition_offsets_exact(
    spark, monkeypatch, impl, layout
):
    """Ranks and cumsums equal a single-partition window exactly when
    range partitions outnumber rows, and when the partition ids have
    gaps. Range partitioning leaves at most trailing partitions empty,
    so gaps are forced by renumbering the pass-1 ids (x3 + 1)."""
    from selfclean_spark.functions import rank as R

    df = spark.range(0, 23).select(
        "id", (F.xxhash64("id") % 5 + 5).alias("v")
    )
    num_partitions = 64
    if layout == "pid_gaps":
        num_partitions = 4
        pass1 = R._sorted_with_pid
        monkeypatch.setattr(
            R,
            "_sorted_with_pid",
            lambda *a: pass1(*a).withColumn("_pid", F.col("_pid") * 3 + 1),
        )
    got = _ranked(df, impl, num_partitions=num_partitions)
    want = _single_window(df, impl)
    assert _rows(got) == _rows(want)
