"""Deterministic hash-based randomness (SURVEY.md §3.3, §7.3).

``rand()`` re-executes differently on task retry and across resumes, which
violates the north_rule's resumability requirement (BASELINE.json:14).  All
"random" draws in result-bearing paths are therefore *pure functions of stable
ids*: ``xxhash64(id, seed) pmod 2^k / 2^k`` uniforms.  Replays, retries, and
different parallelism levels all produce identical outputs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 buckets gives ~4e-10 granularity for inverse-CDF sampling — plenty.
_UNIFORM_BUCKETS = 1 << 31


def det_uniform(*cols: Column | str, seed: int = 0) -> Column:
    """A uniform in [0, 1) that is a pure function of (cols, seed).

    xxhash64 is a 64-bit JVM-side hash (whole-stage codegen, no Python).
    ``pmod`` (not ``%``) keeps the value non-negative.
    """
    h = F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols], F.lit(seed))
    return F.pmod(h, F.lit(_UNIFORM_BUCKETS)).cast("double") / F.lit(
        float(_UNIFORM_BUCKETS)
    )


def salt_col(*cols: Column | str, buckets: int, seed: int = 0) -> Column:
    """Deterministic salt in [0, buckets) for two-phase skew handling (K1/K2)."""
    h = F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols], F.lit(seed))
    return F.pmod(h, F.lit(buckets)).cast("int")
