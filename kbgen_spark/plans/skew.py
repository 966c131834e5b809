"""K1/K2 — explicit skew handling (SURVEY.md §2.12, §4.3).

AQE's skew-join splitting only helps sort-merge joins; a skewed
``groupBy('pred')`` (P_co_occurs carries ≥100× the mass of cold predicates by
fixture construction, and hot predicates dominate real KBs) still funnels one
reducer.  The fix is the classic two-phase salted aggregate and the
replicated-salt join, both deterministic (xxhash64 salts — resumable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kbgen_spark.functions.hashing import salt_col

DEFAULT_SALT = 16


def salted_count(
    df: DataFrame,
    keys: list[str],
    salt_on: list[str],
    buckets: int = DEFAULT_SALT,
    out: str = "cnt",
) -> DataFrame:
    """groupBy(keys).count() with a salt pre-aggregation.

    Phase 1 groups on (keys, salt) — the hot key's rows spread over
    ``buckets`` reducers and benefit from map-side partial aggregation;
    phase 2 sums the (keys, salt) partials, at most ``buckets`` rows per key.
    """
    salted = df.withColumn("_salt", salt_col(*salt_on, buckets=buckets))
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_pc"))
    return partial.groupBy(*keys).agg(F.sum("_pc").cast("bigint").alias(out))


def salted_dense_index(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    idx_name: str = "idx",
    bucket_bits: int = 5,
) -> DataFrame:
    """Dense 0..n-1 index per ``part_cols`` group WITHOUT a single-reducer
    window (the unsalted ``row_number().over(partitionBy(group))`` funnels a
    hot group — Zipfian multitypes/predicates — through one task).

    Ordering contract: rows are indexed by (xxhash64(order_cols), order_cols)
    — arbitrary-but-deterministic, which is all a sampling index needs.
    Two-phase:

    1. bucket = TOP ``bucket_bits`` bits of the hash (``shiftrightunsigned``)
       — uniform across buckets AND order-preserving w.r.t. unsigned-hash
       order, so per-(group, bucket) ``row_number`` ordered by (hash,
       order_cols) is globally consistent (within a bucket the sign bit is
       fixed, so signed comparison == unsigned comparison).
    2. per-(group, bucket) counts → cumulative offsets over ≤ 2^bucket_bits
       rows per group (tiny; broadcast back). idx = offset + local_rn − 1.

    A property test asserts equality with the naive one-window index under
    the same ordering (tests/test_properties.py)."""
    oc = [F.col(c) for c in order_cols]
    h = F.xxhash64(*oc)
    t = df.withColumn("_h", h).withColumn(
        "_b", F.shiftrightunsigned(F.col("_h"), 64 - bucket_bits).cast("int")
    )
    w = Window.partitionBy(*part_cols, "_b").orderBy("_h", *order_cols)
    t = t.withColumn("_rn", F.row_number().over(w))
    counts = t.groupBy(*part_cols, "_b").agg(F.count("*").alias("_c"))
    wo = (
        Window.partitionBy(*part_cols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *part_cols, "_b", F.coalesce(F.sum("_c").over(wo), F.lit(0)).alias("_off")
    )
    return (
        t.join(F.broadcast(offsets), [*part_cols, "_b"])
        .withColumn(idx_name, F.col("_off") + F.col("_rn") - 1)
        .drop("_h", "_b", "_rn", "_off")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    buckets: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """K2 — skew join for when the small side is too big to broadcast:
    replicate the small side ×buckets (explode over the salt domain), salt the
    big side by row-hash, join on (key, salt). Each hot-key partition now
    holds 1/buckets of the hot rows."""
    big_s = big.withColumn(
        "_salt", salt_col(*[c for c in big.columns], buckets=buckets)
    )
    small_r = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return big_s.join(small_r, [key, "_salt"], how).drop("_salt")
