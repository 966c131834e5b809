"""Open-vocabulary dedup fixture (round-2 verdict "What's missing" #4).

The driver corpus at /root/testdata has a ~31-token closed vocabulary, so
near-dup operators are output-bound (every doc resembles every other) and
LSH recall is trivially 1.0. This module derives an OPEN-vocabulary corpus
deterministically from the ``documents`` table's doc_ids — ~50 hot
"stopword" tokens plus a ~20k-token uniform tail, with planted near-dup
pairs — so selectivity, prefix-filter pruning, and sub-1.0 LSH recall are
actually exercised.

Every draw is the first 15 hex chars of md5 read as a 60-bit positive
bigint, which Spark (``conv(substring(md5(x),1,15),16,10)``) and DuckDB
(``cast('0x'||substr(md5(x),1,15) as bigint)``) compute identically —
positive values keep %, >>, and & in agreement across engines — so the
DuckDB oracle can regenerate the corpus exactly (see the ``ov_*`` CTEs in
__spark_entry__.py).

Generation spec (shared with the oracle SQL, keep in sync):

- base(d)  = d-1 if d % 10 == 1 else d   → docs (d, d+1) for d % 10 == 0
             share a seed: ~10% of the corpus is planted near-dup pairs.
- L(d)     = 30 + h60('len:' || base) % 31          (30..60 tokens)
- token i  : h = h60('tok:' || base || ':' || i)
             h % 3 == 0 → 'c' || ((h >> 3) % 50)     hot vocabulary
             else       → 'w' || ((h >> 3) % 39119)  open tail
- mutation : on the d % 10 == 1 partner only, positions with
             h60('mut:' || d || ':' || i) % 20 == 0 flip to
             'x' || ((h >> 3) % 39119) — ~5% token noise, so planted pairs
             land at token-Jaccard ≈ 0.9 and 3-word-shingle Jaccard ≈ 0.6-0.8
             while unrelated docs share only hot tokens (Jaccard ≤ ~0.25).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_60bit(c: Column) -> Column:
    """First 60 bits of md5 as a positive bigint — bit-identical in DuckDB
    via cast('0x'||substr(md5(x),1,15) as bigint)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _s(c: Column) -> Column:
    return c.cast("string")


def open_vocab_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, text) — the deterministic open-vocabulary corpus over the
    input table's doc_ids. Pure Catalyst expressions (one transform over a
    sequence per row, md5 inside codegen); no Python, no shuffle."""
    base = F.when(F.col("doc_id") % 10 == 1, F.col("doc_id") - 1).otherwise(
        F.col("doc_id")
    )
    n_toks = (F.lit(30) + md5_60bit(F.concat(F.lit("len:"), _s(base))) % 31).cast(
        "int"
    )

    def token(i: Column) -> Column:
        h = md5_60bit(F.concat(F.lit("tok:"), _s(base), F.lit(":"), _s(i)))
        rank = F.shiftright(h, 3)
        mutated = (F.col("doc_id") % 10 == 1) & (
            md5_60bit(F.concat(F.lit("mut:"), _s(F.col("doc_id")), F.lit(":"), _s(i)))
            % 20
            == 0
        )
        return (
            F.when(mutated, F.concat(F.lit("x"), _s(rank % 39119)))
            .when(h % 3 == 0, F.concat(F.lit("c"), _s(rank % 50)))
            .otherwise(F.concat(F.lit("w"), _s(rank % 39119)))
        )

    text = F.array_join(F.transform(F.sequence(F.lit(0), n_toks - 1), token), " ")
    return docs.select("doc_id", text.alias("text"))


def mirrorable_shingle_hash(shingle: Column, i: int) -> Column:
    """MinHash family the DuckDB oracle can replay exactly: the i-th hash of
    a shingle is md5_60bit(shingle || '#' || i). Pass as ``shingle_hash`` to
    dedup_minhash_lsh or build_canon_map: both reach
    canonicalize.signature_column, the one signature builder."""
    return md5_60bit(F.concat(shingle, F.lit(f"#{i}")))
