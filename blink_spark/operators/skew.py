"""Skew handling: hot-block splitting + salted aggregation.

north_rule requires "salted joins and AQE-driven repartitioning to tame
skewed blocks". Three layers, used in this order:

1. **AQE skew-join** (`spark.sql.adaptive.skewJoin.enabled`, on in
   :mod:`blink_spark.session`) — runtime splitting of skewed shuffle
   partitions; free, but only fires on sort-merge joins past size
   thresholds.
2. **Hot-block splitting** (:func:`split_hot_blocks`) — ER-specific: a
   blocking key with B members emits B² candidate pairs, so a single
   boilerplate key at 10^12 turns can out-emit the rest of the corpus.
   Oversized blocks are deterministically salted into sub-blocks of
   bounded size (pairs form only within a sub-block — a bounded,
   documented recall trade, strictly better than dropping the key).
3. **Explicit salting** (:func:`salted_aggregate`) — for aggregations on
   hot keys: two-phase salt → partial → final, the classic map-side
   decomposition, for aggregates that distribute over union.

The reference's analog is its hard top-k / candidate caps
(``elq/main_dense.py:851-856``); Spark lets us keep MORE of a hot block
(split) instead of truncating it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_hot_blocks(
    keys: DataFrame,
    max_block_size: int,
    id_col: str = "conv_id",
    key_cols: tuple[str, ...] = ("modality", "key"),
) -> tuple[DataFrame, DataFrame]:
    """Salt oversized blocks into sub-blocks of ~``max_block_size`` EXPECTED
    members (hash-salting bounds the mean, not the max: a residual hot
    sub-block can exceed the cap severalfold, which test_skew tolerates).

    Input: one row per (member, blocking key). Output: same rows with the
    key replaced by ``(key, salt)`` for hot keys (salt = 0 otherwise), plus
    a small stats DataFrame of the keys that were split. A block of size B
    becomes ⌈B / max⌉ sub-blocks of expected size ≈ max; candidate pairs
    then form within sub-blocks only, so pair volume per key drops from B²
    to O(B·max) in expectation — linear in B, which is the property that
    keeps a 10^12-row corpus's worst key from dominating the whole job.
    (A hard per-sub-block bound would need
    ``row_number`` over a deterministic order — an extra sort per hot key;
    the expected bound is the better trade at this pair-volume math.)
    """
    sizes = keys.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("block_size"))
    hot = sizes.where(F.col("block_size") > max_block_size)
    n_salts = F.ceil(F.col("block_size") / F.lit(max_block_size)).cast("int")
    salted = (
        keys.join(F.broadcast(hot.select(*key_cols, n_salts.alias("n_salts"))), list(key_cols), "left")
        .withColumn(
            "salt",
            F.when(F.col("n_salts").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(F.col(id_col)), F.col("n_salts")).cast("int")
            ),
        )
        .drop("n_salts")
    )
    return salted, hot


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for hot grouping keys.

    ``aggs`` maps output column → (input column, fn) with fn ∈
    {sum, count, min, max} (aggregates that distribute over union).
    Phase 1 groups by (key, salt) — hot keys spread over ``n_salts``
    reducers; phase 2 merges the partials. For these functions Spark's own
    partial aggregation usually suffices; the explicit form exists for
    when a single reducer key still overflows (extreme Zipf) or when the
    phase-1 output is itself a useful checkpoint.
    """
    _MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    _PHASE1 = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    # salt over the FULL row, not the group key: rows of one hot key must
    # spread across salts (hashing the key would map them all to one salt)
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int"))
    p1 = salted.groupBy(*group_cols, "_salt").agg(
        *[_PHASE1[fn](col).alias(out) for out, (col, fn) in aggs.items()]
    )
    return p1.groupBy(*group_cols).agg(
        *[_MERGE[fn](out).alias(out) for out, (col, fn) in aggs.items()]
    )
