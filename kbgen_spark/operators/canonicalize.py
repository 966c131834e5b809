"""Stage CANON — MinHash-LSH blocking for surface-form canonicalization
(SURVEY.md §2.9 V3, §2.3 J5; BASELINE.json:6).

Everything here is JVM-side SQL — char-shingling via ``transform``, MinHash
via ``array_min(transform(shingles, x -> xxhash64(x, seed_i)))`` per row,
band bucketing via ``xxhash64`` over signature slices.  No Python crosses
the boundary: signatures are one projection, the only shuffles are the
bucket join and the pair ``distinct``, and it scales linearly in distinct
surface forms.

Pipeline:
  surface forms → char n-gram shingles → k-wide MinHash signature
  → b bands × r rows → bucket join (J5) → candidate pairs
  → exact Jaccard verification on shingle sets → edges(jaccard ≥ τ)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kbgen_spark.functions.text import char_ngrams

DEFAULT_K = 32  # signature width
# 16 bands × 2 rows: collision prob ≥ 1−(1−j²)^16 → ≥ 99% for j ≥ 0.5.
# False positives are cheap (exact-Jaccard verify filters them); false
# negatives break canonicalization recall — bias toward recall.
DEFAULT_BANDS = 16


def minhash_signatures(
    sf: DataFrame,
    col: str = "surface_form",
    k: int = DEFAULT_K,
    ngram: int = 2,
    shingle_hash=None,
) -> DataFrame:
    """(col) → (col, sig array<bigint>): ``signature_column`` over each
    surface's char n-grams, one projection per row.

    Contract: one row per surface — callers pass distinct surfaces (the
    canon local path a sorted set, ``similar_surface_edges`` a
    ``.distinct()``). With no aggregate there is no shuffle, and over a
    ``LocalRelation`` input the optimizer folds the whole projection on the
    driver (``ConvertToLocalRelation``), so collecting it runs no job."""
    sh = sf.select(col, char_ngrams(col, ngram).alias("__sh"))
    return sh.select(col, signature_column("__sh", k, shingle_hash).alias("sig"))


def signature_column(
    shingles: str, k: int = DEFAULT_K, shingle_hash=None
) -> Column:
    """The k-wide MinHash signature of the shingle-array column named
    ``shingles``, as one per-row expression:
    ``sig[i] = array_min(transform(shingles, x -> h(x, i)))``. Canon
    (char n-grams of a surface) and dedup (a doc's word-shingle set) both
    build their signatures here. A null or empty array gives an all-null
    signature; callers whose rows can have one drop them first.

    ``shingle_hash``: callable (shingle Column, i) -> Column giving the i-th
    hash family member; defaults to ``xxhash64(shingle, i)``, rendered as
    one server-parsed SQL string (the k lambdas built through the DataFrame
    API cost ~6 Py4J round trips per node). The md5-60-bit family
    (fixtures_openvocab ``mirrorable_shingle_hash``) is injectable so a
    DuckDB oracle can replay the exact signature → band → candidate chain."""
    if shingle_hash is None:
        return F.expr(
            "array("
            + ", ".join(
                f"array_min(transform({shingles}, x -> xxhash64(x, {i})))"
                for i in range(k)
            )
            + ")"
        )
    return F.array(
        *[
            F.array_min(F.transform(shingles, _family_member(shingle_hash, i)))
            for i in range(k)
        ]
    )


def _family_member(shingle_hash, i: int):
    """The one-argument lambda ``x -> shingle_hash(x, i)``. Binding ``i``
    here matters twice: a closure over a loop variable would see its last
    value, and a two-argument lambda given to ``F.transform`` receives the
    element index as its second argument."""
    return lambda x: shingle_hash(x, i)


def lsh_candidate_pairs(
    sig: DataFrame,
    col: str = "surface_form",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Band-bucket self-join: explode (band, bucket-hash of the sig slice),
    equi-join on (band, bucket), keep ordered pairs a < b. The equi-join keys
    make this a plain shuffled hash join — no O(n²) blowup; bucket sizes are
    bounded by signature collisions only."""
    r = k // bands
    banded = sig.select(
        col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * r + 1, r),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col(col).alias("a"), "band", "bucket")
    b = banded.select(F.col(col).alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def verify_pairs_jaccard(
    pairs: DataFrame, ngram: int = 2, threshold: float = 0.5
) -> DataFrame:
    """Exact char-shingle Jaccard on candidate pairs (array_intersect /
    array_union over the two small shingle arrays — per-row array math, still
    codegen)."""
    sa = F.array_distinct(char_ngrams("a", ngram))
    sb = F.array_distinct(char_ngrams("b", ngram))
    jac = F.size(F.array_intersect(sa, sb)).cast("double") / F.size(
        F.array_union(sa, sb)
    )
    return pairs.withColumn("jaccard", jac).filter(F.col("jaccard") >= threshold)


def similar_surface_edges(
    links_or_sf: DataFrame,
    col: str = "surface_form",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    ngram: int = 2,
    threshold: float = 0.5,
    shingle_hash=None,
) -> DataFrame:
    """surface forms → verified similarity edges (a, b, jaccard)."""
    sf = links_or_sf.select(col).distinct()
    sig = minhash_signatures(sf, col, k, ngram, shingle_hash)
    cand = lsh_candidate_pairs(sig, col, k, bands)
    return verify_pairs_jaccard(cand, ngram, threshold)
