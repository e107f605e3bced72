"""Stage 2/3 — LSH candidate generation (the cross-join killer).

Reference analog: the blocked N×N pairwise-distance cross join
(selfclean/cleaner/selfclean_cleaner.py:121-146) and its approximate
Annoy-kNN alternative (selfclean/cleaner/near_duplicates/
embedding_distance_mixin.py:92-127).  Both are replaced by LSH band
blocking: two rows meet iff at least one of their b MinHash bands
hashes identically — probability 1-(1-s^r)^b of meeting at Jaccard s
(≈0.99995 at s=0.8 with the default r=5/b=25), which buys the ≥0.99
recall gate sub-quadratically.

Every blocking index in the package (LSH bands, inverted token/gram/
fingerprint indexes, simhash blocks, sign-sketch buckets) goes through
:func:`capped_pairs`: a key with more than ``cap`` postings is dropped
before any pair is emitted, so a degenerate key never expands m² pairs.
Rows in a dropped band bucket still meet through their b-1 other bands,
and verbatim duplicates are additionally guaranteed by the
sha-equality fast path (:func:`exact_duplicate_pairs`).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

_PAIR_EXPANSION = (
    "flatten(transform(ids, (x, i) -> "
    "transform(slice(ids, i + 2, size(ids)), y -> "
    "struct(least(x, y) as id_a, greatest(x, y) as id_b))))"
)


def capped_pairs(
    postings: DataFrame,
    key: str | list[str],
    id_col: str,
    cap: int,
    observation: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Key-capped postings and their self-join pair stream.

    Invariant: each key's size n is a count window over ONE hash(key)
    exchange, evaluated before any pair is emitted.  Returns

    * ``capped``: the postings of keys with n ≤ cap (all columns);
    * ``pairs``: the self-join over keys with 2 ≤ n ≤ cap, one row per
      (key, pair) with ``<id_col>_a < <id_col>_b``; every non-key column
      appears suffixed ``_a``/``_b``.

    Both join sides (and ``capped``) read identical exchange subtrees —
    same not-null key filter, same window — so AQE materializes the
    key shuffle once.  ``observation``, if given, reports
    ``dropped_band_buckets`` (keys with n > cap) and
    ``max_bucket_size`` after the caller's first action, with no extra
    job.  Null keys never pair and are dropped up front.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(id_col)
    sized = postings.filter(
        reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
    ).select(
        *postings.columns,
        F.count(F.lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n"),
        F.row_number().over(w).alias("_rn"),
    )
    observed = sized
    if observation is not None:
        observed = sized.observe(
            observation,
            F.coalesce(
                F.sum(F.when((F.col("_n") > cap) & (F.col("_rn") == 1), 1)),
                F.lit(0),
            ).alias("dropped_band_buckets"),
            F.coalesce(F.max("_n"), F.lit(0)).alias("max_bucket_size"),
        )
    carried = [c for c in postings.columns if c not in keys]

    def side(df: DataFrame, suffix: str) -> DataFrame:
        return df.filter((F.col("_n") >= 2) & (F.col("_n") <= cap)).select(
            *keys, *[F.col(c).alias(c + suffix) for c in carried]
        )

    # shuffle_hash: the codegen'd per-partition build side is bounded by
    # the cap, and AQE never broadcasts a large posting table
    pairs = (
        side(observed, "_a")
        .join(side(sized, "_b").hint("shuffle_hash"), keys)
        .filter(F.col(id_col + "_a") < F.col(id_col + "_b"))
    )
    capped = sized.filter(F.col("_n") <= cap).drop("_n", "_rn")
    return capped, pairs


def band_pair_stream(
    bands: DataFrame,
    band_bucket_cap: int,
    observation: Observation | None = None,
) -> DataFrame:
    """(id, band_hash) → raw co-bucket pair stream (id_a, id_b), one row
    per (pair, shared band), buckets capped by :func:`capped_pairs`.
    Callers aggregate per pair downstream (the pipeline fuses the
    sha-equality edges into the same groupBy).  Dropped buckets are
    counted through ``observation``; the pipeline writes them into the
    candidates stage manifest."""
    _, pairs = capped_pairs(
        bands.select("id", "band_hash"), "band_hash", "id", band_bucket_cap,
        observation,
    )
    return pairs.select("id_a", "id_b")


def candidate_pairs(
    bands: DataFrame,
    band_bucket_cap: int,
    observation: Observation | None = None,
) -> DataFrame:
    """(id, band_hash) → distinct candidate pairs (id_a, id_b,
    n_bands_hit) with id_a < id_b."""
    return (
        band_pair_stream(bands, band_bucket_cap, observation)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_hit"))
    )


def incremental_candidate_pairs(
    new_bands: DataFrame,
    all_bands: DataFrame,
    band_bucket_cap: int,
    touched_keys: list[int] | None = None,
) -> DataFrame:
    """New×all LSH candidate join — the incremental-index complement
    of :func:`candidate_pairs`: candidates always carry ≥1 endpoint
    from ``new_bands`` (new×old and new×new; old×old pairs are the
    base index's own business).

    ``all_bands`` must be the ACCUMULATED index (base ∪ new): the cap
    of :func:`capped_pairs` is evaluated on accumulated bucket sizes,
    the dropped-bucket semantics the streaming path documents
    (``streaming.incremental.dedup_batch``, which delegates here).  A
    bucket with no new member can never emit a candidate, so the index
    is first pruned to the new batch's band keys (a semi-join AQE
    broadcasts when the batch is micro); the pruned slice holds every
    member of every touched bucket, so its sizes are the accumulated
    ones.  ``countDistinct``: a new×new pair appears in both
    orientations of the asymmetric join, a new×old pair in one.

    ``touched_keys``: callers whose new side is a BOUNDED micro-batch
    may pre-collect the new band keys and pass them here — the prune
    then becomes a map-side literal ``isin`` filter.  Unbounded callers
    (streaming batches) pass None and get the semi-join.
    """
    keys = ["band_hash"]
    if touched_keys is not None:
        all_touched = all_bands.filter(F.col("band_hash").isin(touched_keys))
    else:
        touched = new_bands.select(*keys).distinct()
        all_touched = all_bands.join(touched, keys, "leftsemi")
    # capped keys of size 1 hold only the new row itself, which the
    # id_new != id_other filter drops
    capped, _ = capped_pairs(
        all_touched.select("id", *keys), keys, "id", band_bucket_cap
    )
    return (
        new_bands.select(*keys, F.col("id").alias("id_new"))
        .join(capped.select(*keys, F.col("id").alias("id_other")), keys)
        .filter(F.col("id_new") != F.col("id_other"))
        .select(
            "band_hash",
            F.least("id_new", "id_other").alias("id_a"),
            F.greatest("id_new", "id_other").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("band_hash").alias("n_bands_hit"))
    )


def exact_duplicate_pairs(id_sha: DataFrame, pair_cap: int = 200) -> DataFrame:
    """Verbatim duplicates via sha256 equality — the degenerate fast
    path (reference: planted exact duplicate must rank first with
    distance 0, tests/.../test_embedding_distance.py:22-40).

    ``id_sha``: any relation carrying (id, content_sha).  Pass the
    checkpointed SIGNATURE table, not the raw source — the signature
    stage already computed and invariant-checked content_sha, so this
    stage never re-reads content or re-hashes (at 100 TB that is the
    difference between scanning 100 TB and scanning ~50 GB of digests).

    Groups of ≤ ``pair_cap`` members emit all m(m-1)/2 pairs (the full
    ranking the reference asserts); larger groups — the 10^6-copy
    boilerplate case — emit STAR edges (min-id → member) instead:
    linear in group size, same connected components, and the ranking
    still contains every member at distance 0 via its star edge.
    """
    keyed = id_sha.select("id", "content_sha")
    sizes = keyed.groupBy("content_sha").agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("min_id")
    )
    # small groups: collect ≤ pair_cap ids per task and expand all pairs
    small_keys = sizes.filter(
        (F.col("n") >= 2) & (F.col("n") <= pair_cap)
    ).select("content_sha")
    full = (
        keyed.join(small_keys, "content_sha", "inner")
        .groupBy("content_sha")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .select(F.explode(F.expr(_PAIR_EXPANSION)).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    # giant groups: NEVER collected — star edges come from joining each
    # member against the group minimum (a 10^8-copy boilerplate group
    # stays (10^8 rows × 16 bytes) spread across partitions, not one
    # collect_list task)
    star = (
        keyed.join(
            sizes.filter(F.col("n") > pair_cap).select("content_sha", "min_id"),
            "content_sha",
            "inner",
        )
        .filter(F.col("id") != F.col("min_id"))
        .select(F.col("min_id").alias("id_a"), F.col("id").alias("id_b"))
    )
    return full.unionByName(star)
