"""Approximate-nearest-neighbor similarity search over embedding columns.

Two paths over ``embeddings(vec_id, embedding: array<float>, label)``:

- ``cosine_topk``  : brute-force exact top-k — the correctness baseline.
  Dot products are ``F.aggregate(F.zip_with(...))`` — pure JVM array math,
  no Python. Brute force is O(n·q); use it for small query sets or as the
  verifier for the ANN path.
- ``ivf_topk``     : the scale path — a random-hyperplane LSH coarse
  quantizer (deterministic, derived from xxhash64 of the bucket seeds)
  assigns every vector to a bucket; queries only score vectors in their own
  bucket (optionally ±probe buckets). At 10^12 vectors this turns a full
  cross join into a bucket-local join, the classic IVF trade of recall for
  a ~#buckets× cost cut.

Vectors are L2-normalized once up front so cosine == dot product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _norm(col) -> object:
    mag = F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(col, lambda x: x / mag)


def normalize(embeddings: DataFrame, col: str = "embedding") -> DataFrame:
    return embeddings.withColumn(col, _norm(F.col(col).cast("array<double>")))


def _dot(a, b) -> object:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors per query: (qid, vec_id, score, rank).

    queries: (qid, embedding). The corpus side is broadcast if small; at
    scale broadcast the *query* side instead (queries ≪ corpus) — Spark
    picks this up from size stats/AQE, and the explicit hint below marks
    the query side as the small one."""
    e = normalize(embeddings).select(
        F.col("vec_id"), F.col("embedding").alias("v")
    )
    q = normalize(queries, "embedding").select(
        F.col("qid"), F.col("embedding").alias("qv")
    )
    scored = e.join(F.broadcast(q)).select(
        "qid",
        "vec_id",
        F.round(_dot(F.col("qv"), F.col("v")), 6).alias("score"),
    ).filter(F.col("qid") != F.col("vec_id"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "score", "rank")
    )


def md5_sign_hash(b: int, j) -> object:
    """Cross-engine-mirrorable hyperplane sign source: first 15 hex chars of
    md5('hp:<bit>:<component>') as a positive 60-bit bigint — DuckDB computes
    the identical value (``cast('0x'||substr(md5(...),1,15) as bigint)``), so
    an oracle can replay the exact bucket assignment (same trick as the
    minhash/simhash md5-60-bit variants). Pass as ``sign_hash`` to
    hyperplane_bucket/ivf_topk for driver-oracled entries."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"hp:{b}:"), j.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def hyperplane_bucket(col, nbits: int = 8, dim: int = 64, seed: int = 42, sign_hash=None):
    """Deterministic random-hyperplane LSH bucket id (0..2^nbits-1).

    Hyperplane h_b component j = ±1 chosen by xxhash64(b, j, seed) — a pure
    SQL derivation (no stored model), identical on every executor/run. The
    sign pattern approximates a random projection; sign(v·h_b) gives bit b.
    ``sign_hash(b, j) -> Column`` overrides the sign source (md5_sign_hash
    gives a DuckDB-mirrorable family; default xxhash64 stays the fast path).
    """
    def _signed(b):
        if sign_hash is not None:
            return lambda x, j: F.when(sign_hash(b, j) % 2 == 0, x).otherwise(-x)
        return lambda x, j: F.when(
            F.pmod(F.xxhash64(F.lit(b), j.cast("bigint"), F.lit(seed)), F.lit(2)) == 0,
            x,
        ).otherwise(-x)

    bits = []
    for b in range(nbits):
        comp = F.zip_with(col, F.sequence(F.lit(0), F.lit(dim - 1)), _signed(b))
        proj = F.aggregate(comp, F.lit(0.0), lambda a, x: a + x)
        bits.append(F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    out = F.lit(0)
    for bit in bits:
        out = out + bit
    return out.cast("int")


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 6,
    dim: int = 64,
    probes: int = 1,
    sign_hash=None,
) -> DataFrame:
    """ANN top-k: score only within the query's LSH bucket(s).

    Equi-join on bucket → shuffled hash join keyed on bucket id; recall
    depends on nbits (fewer bits = bigger buckets = higher recall/cost) and
    ``probes``: multi-probe LSH (Lv et al., VLDB 2007) additionally visits
    the Hamming-1 neighbor buckets of the query's bucket — flipping each of
    the first (probes−1) bits — because a near neighbor that straddles one
    hyperplane lands exactly one bit-flip away. probes = nbits+1 visits all
    Hamming-1 buckets; measured recall@5 vs the exact path is pinned in
    tests/test_ops.py::test_ivf_recall. Only the QUERY side fans out ×probes
    (queries ≪ corpus), the corpus is still hashed once."""
    e = normalize(embeddings).select("vec_id", F.col("embedding").alias("v"))
    e = e.withColumn("bucket", hyperplane_bucket(F.col("v"), nbits, dim, sign_hash=sign_hash))
    q = normalize(queries, "embedding").select("qid", F.col("embedding").alias("qv"))
    q = q.withColumn("bucket", hyperplane_bucket(F.col("qv"), nbits, dim, sign_hash=sign_hash))
    if probes > 1:
        nflip = min(probes - 1, nbits)
        probe_arr = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("int")
                for i in range(nflip)
            ],
        )
        q = q.select("qid", "qv", F.explode(probe_arr).alias("bucket"))
    scored = (
        e.join(q, "bucket")
        .filter(F.col("qid") != F.col("vec_id"))
        .select(
            "qid", "vec_id", F.round(_dot(F.col("qv"), F.col("v")), 6).alias("score")
        )
    )
    if probes > 1:
        # a (query, vector) pair can collide in several probed buckets
        scored = scored.dropDuplicates(["qid", "vec_id"])
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "score", "rank")
    )


def planted_near_dup_embeddings(
    embeddings: DataFrame, n_dups: int = 50, eps: float = 0.02
) -> DataFrame:
    """Deterministic near-dup augmentation for recall testing: every vector
    with ``vec_id < n_dups`` gains a perturbed copy at ``vec_id + 100000``
    whose component j is ``x_j + U_j`` with ``U_j`` in [-eps, eps] drawn from
    the md5-60-bit family (``md5('nd:<orig_id>:<j>')``) — bit-identical in
    DuckDB, so an oracle can regenerate the augmented table exactly (same
    pattern as fixtures_openvocab). Pure codegen projection: no Python, no
    shuffle, one union."""
    from kbgen_spark.fixtures_openvocab import md5_60bit

    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def noise(j):
        h = md5_60bit(
            F.concat(
                F.lit("nd:"),
                F.col("vec_id").cast("string"),
                F.lit(":"),
                j.cast("string"),
            )
        )
        return (h % 2001 - 1000).cast("double") / 1000.0 * eps

    # Sequential withColumn, NOT one select: Spark 4's implicit lateral
    # column alias resolution would otherwise bind the noise expression's
    # vec_id to the re-aliased (vec_id + 100000), silently changing the
    # hash inputs (measured: dup vectors diverged from the DuckDB replay).
    dups = (
        base.filter(F.col("vec_id") < n_dups)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x, j: x + noise(j)),
        )
        .withColumn("vec_id", F.col("vec_id") + 100000)
    )
    return base.unionByName(dups)


def cosine_near_dup_banded(
    embeddings: DataFrame,
    threshold: float = 0.98,
    bands: int = 3,
    bits_per_band: int = 4,
    dim: int = 64,
    sign_hash=None,
) -> DataFrame:
    """Near-dup pairs (cosine ≥ τ) via BANDED hyperplane LSH — the scale
    path for embedding dedup. One ``bands*bits_per_band``-bit sign code per
    vector (computed once), split into bands; candidates = pairs sharing ANY
    band value (OR-amplification: a near-identical pair must flip a bit in
    EVERY band to be missed), then exact cosine verification. Candidate
    generation carries ids only — the 64-dim vectors are joined back after
    pair dedup, so the band fan-out never shuffles vector payloads. Per-band
    equi-join, never all-pairs; same shape as the minhash/simhash banding in
    operators/dedup.py. ``sign_hash=md5_sign_hash`` makes the whole chain
    DuckDB-replayable."""
    nbits = bands * bits_per_band
    mask = (1 << bits_per_band) - 1
    e = normalize(embeddings).select("vec_id", F.col("embedding").alias("v"))
    e = e.withColumn(
        "code", hyperplane_bucket(F.col("v"), nbits, dim, sign_hash=sign_hash)
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("code"), b * bits_per_band)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    keyed = e.select(
        "vec_id", F.explode(band_arr).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    cand = (
        keyed.select(F.col("vec_id").alias("a"), "band", "bucket")
        .join(keyed.select(F.col("vec_id").alias("b"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            "a", "b", F.round(_dot(F.col("va"), F.col("vb")), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )
