"""Deterministic fixture derivation (FIXTURES.md §1–§3).

The graft input is an Iceberg-shaped table of interleaved text+media docs
(BASELINE.json:15):

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>

The sandbox only ships a *flat* documents table, so this module derives the
interleaved shape deterministically (seed=42 semantics via xxhash64 — no
``rand()``), exactly as specified in FIXTURES.md §1, entirely with JVM-side
expressions (one whole-stage-codegen pass, no shuffle, no Python).

Also derives the entity-linking ``gazetteer`` (FIXTURES.md §2) and the
``relation_patterns`` table (FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kbgen_spark.functions.text import tokens

SPAN_SCHEMA = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def load_flat_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def interleave_documents(flat_docs: DataFrame) -> DataFrame:
    """flat (doc_id, text, ...) → (doc_id:string, spans) per FIXTURES.md §1.

    1. chunk tokens into text spans of ``3 + (xxhash64(doc_id, 1) pmod 4)``
       tokens; offset = running token index of the chunk start;
    2. after every text span where ``xxhash64(doc_id, offset, 2) pmod 5 == 0``
       insert a media span (image when pmod 2 == 0 else audio,
       media_ref = 'media://<doc_id>/<offset>'), shifting later offsets by 1.

    All array logic is ``transform``/``filter``/``flatten`` over a ``sequence``
    — a single narrow projection: at 10^12 docs this stage has zero shuffles
    and is embarrassingly parallel over Iceberg file splits.
    """
    # Project the token array once — inlining split(text) into the chunk
    # lambdas would re-split per chunk (O(len²) per doc).
    base = flat_docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), tokens("text").alias("_t")
    )
    doc_id_s = F.col("doc_id")
    toks = F.col("_t")
    width = (F.pmod(F.xxhash64(doc_id_s, F.lit(1)), F.lit(4)) + F.lit(3)).cast("int")
    n_chunks = F.ceil(F.size(toks).cast("double") / width).cast("int")

    # chunk starts in raw token coordinates: 0, w, 2w, ...
    chunk_idx = F.sequence(F.lit(0), n_chunks - 1)

    def make_pair(i):
        # text span at raw offset i*w, then 0/1 media spans after it.
        raw_off = i * width
        chunk_text = F.array_join(F.slice(toks, raw_off + 1, width), " ")
        return F.struct(
            raw_off.alias("raw_off"),
            chunk_text.alias("text"),
        )

    pairs = F.transform(chunk_idx, make_pair)

    # Media insertion decision is keyed on the *shifted* offset of each text
    # span, which depends on how many media spans were inserted before it.
    # A sequential scan is expressible with ``aggregate`` (fold) — still pure
    # SQL, still one codegen stage.
    spans = F.aggregate(
        pairs,
        F.expr(
            f"named_struct('shift', 0, 'acc', cast(array() as {SPAN_SCHEMA}))"
        ),
        lambda acc, p: _fold_step(acc, p, doc_id_s),
        lambda acc: acc["acc"],
    )
    return base.select("doc_id", spans.alias("spans"))


def _fold_step(acc, p, doc_id_s):
    off = (p["raw_off"] + acc["shift"]).cast("int")
    text_span = F.struct(
        F.lit("text").alias("kind"),
        p["text"].alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        off.alias("offset"),
    )
    media_h = F.xxhash64(doc_id_s, off.cast("bigint"), F.lit(2))
    media_sel = F.pmod(media_h, F.lit(5))
    media_kind = F.when(F.pmod(media_h, F.lit(2)) == 0, F.lit("image")).otherwise(
        F.lit("audio")
    )
    media_off = (off + 1).cast("int")
    media_span = F.struct(
        media_kind.alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(
            F.lit("media://"), doc_id_s, F.lit("/"), media_off.cast("string")
        ).alias("media_ref"),
        media_off.alias("offset"),
    )
    with_media = media_sel == 0
    new_acc = F.when(
        with_media,
        F.struct(
            (acc["shift"] + 1).alias("shift"),
            F.concat(acc["acc"], F.array(text_span), F.array(media_span)).alias("acc"),
        ),
    ).otherwise(
        F.struct(
            acc["shift"].alias("shift"),
            F.concat(acc["acc"], F.array(text_span)).alias("acc"),
        )
    )
    return new_acc


def replicate_documents(docs: DataFrame, factor: int) -> DataFrame:
    """Deterministic corpus scale-up for benchmarking (FIXTURES.md §1):
    doc_id || '#' || i for i in 0..factor-1. No shuffle — explode of a
    constant sequence, fans out at the scan."""
    if factor <= 1:
        return docs
    return docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_rep"), "*"
    ).select(
        F.concat(F.col("doc_id"), F.lit("#"), F.col("_rep").cast("string")).alias(
            "doc_id"
        ),
        "spans",
    )


# ---------------------------------------------------------------------------
# Gazetteer (FIXTURES.md §2)
# ---------------------------------------------------------------------------

_TYPE_CYCLE = ["thing", "action", "system"]
# phrase quotas per token count: top-10 bigrams, and — round 5, so mention
# detection is exercised past 2 tokens (VERDICT r4 'Next round' #1) — top-5
# trigrams, top-3 4-grams, top-2 5-grams. Global ranks continue after the
# unigrams in ascending n (unigram ranks and therefore every entity_id the
# unigram-only oracles see are unchanged by the longer phrases).
N_NGRAM_PHRASES = {2: 10, 3: 5, 4: 3, 5: 2}
N_PHRASES = sum(N_NGRAM_PHRASES.values())
N_PLURAL_VARIANTS = 5


def _phrase_rank_offset(n: int) -> int:
    return sum(q for m, q in N_NGRAM_PHRASES.items() if m < n)


def build_gazetteer(flat_docs: DataFrame) -> DataFrame:
    """Dictionary for entity linking, derived from the corpus itself.

    - every distinct token, ranked by global frequency (ties: token asc);
      entity_id = 'E' || lpad(rank, 5, '0'); prior = 1/rank;
      entity_type = cycle(thing, action, system) by rank.
    - top-k adjacent n-grams per N_NGRAM_PHRASES as multi-token phrases
      (ranks continue after the unigrams, shorter n first);
    - pluralized variants of the top-5 unigrams map to the *same* entity_id
      (near-duplicate surface forms → exercises MinHash-LSH + CC canon).

    The ranking is pure SQL, mirrored verbatim in the DuckDB oracles
    (__spark_entry__.oracle_sql: 'kg_gazetteer', 'kg_mentions_kgram').

    Round-6 plan shape (guide §1.2 "the distributed algorithm", §2.4
    "remove shuffles outright"): the whole derivation is ONE LINEAR plan
    over ONE corpus scan. Unigrams ride the same array-side gram generation
    as the phrases (n = 1), one (n, gram) aggregation counts every length,
    and the per-n ranking window's n = 1 partition reproduces the old
    global unigram ranking exactly (same (cnt desc, gram asc) order). The
    quota filter then shrinks the stream to the dictionary-sized survivor
    set (every unigram + the ~20 quota phrases), after which the unigram
    total that offsets phrase ranks is a window COUNT over those survivors
    — no separate counting branch, no eager driver job — and the plural
    variants are emitted by per-row ``explode`` instead of a second
    reference to the entity subtree.

    Why linear matters: the previous formulation referenced the corpus
    subtree from four places (unigram branch, phrase branch, an EAGER
    ``uni.count()`` at plan-build, and the plural union re-deriving all of
    it). Branch-specific filters push below the aggregate, so the subtrees
    canonicalize differently and ReusedExchange can NOT deduplicate them —
    each evaluation re-scanned and re-exploded the corpus up to four times
    (measured: the derivation was 3.27 s of kg_cooccur_pairs' 3.67 s at
    sf0.1/local[32]; the linear plan takes one scan —
    plans/r06/kg_cooccur_pairs_*.txt).

    Gram counting is WINDOW-PREFIX shaped (guide §2.3 "shuffle fewer
    bytes"): instead of exploding one string per (position, length) —
    |lengths| × |positions| rows, each paying its own array_join and its
    own ride through the count shuffle — explode ONE k-token window array
    per position (k = the max phrase length), aggregate the windows, and
    derive every n-gram count from the ~5× smaller distinct-window table
    by exploding prefixes there (an n-gram at position i is exactly the
    n-prefix of the window at i, windows shorter than n contributing to
    shorter grams only — bit-identical counts, asserted on the live
    corpus). At sf0.1: 0.8M window rows vs 3.8M gram rows; the corpus-side
    count stage dropped 2.02 s → 1.19 s (noop, min-of-4, local[32]).

    Token arrays are projected FIRST so the transform lambdas index a
    materialized array — inlining split(text) into the lambdas would
    re-split per element (O(len²) per doc).
    """
    t = flat_docs.select(tokens("text").alias("t"))
    ns = [1, *sorted(N_NGRAM_PHRASES)]
    k = max(ns)
    win = t.select(
        F.explode(
            F.transform("t", lambda x, i: F.slice(F.col("t"), i + 1, k))
        ).alias("w")
    )
    wcnt = win.groupBy("w").agg(F.count("*").alias("wc"))
    grams = wcnt.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w")),
                lambda n: F.struct(
                    n.cast("int").alias("n"),
                    F.array_join(F.slice("w", 1, n), " ").alias("gram"),
                ),
            )
        ).alias("g"),
        "wc",
    ).filter(F.col("g.n").isin(ns))
    counted = grams.groupBy(
        F.col("g.n").alias("n"), F.col("g.gram").alias("gram")
    ).agg(F.sum("wc").alias("cnt"))
    # Quota / rank-offset lookups and the entity-row constructor below are
    # rendered as server-parsed SQL strings (round 6): the DataFrame-API
    # construction (two create_map literal chains, the type-cycle
    # element_at, two entity structs) cost ~0.25 s of Py4J round trips per
    # plan BUILD — a per-invocation driver tax for every gazetteer
    # consumer. Same expressions, parsed once in the JVM.
    wn = Window.partitionBy("n").orderBy(F.desc("cnt"), F.asc("gram"))
    quota_expr = F.expr(
        "element_at(map("
        + ", ".join(
            f"{n}, {q}" for n, q in sorted(N_NGRAM_PHRASES.items())
        )
        + "), n)"
    )
    offset_expr = F.expr(
        "element_at(map("
        + ", ".join(
            f"{n}, {_phrase_rank_offset(n)}" for n in sorted(N_NGRAM_PHRASES)
        )
        + "), n)"
    )
    # Two-phase exact top-k for the PHRASE ranks (round 6, guide §2.5): the
    # per-n window above would otherwise sort every distinct n-gram of each
    # length through ONE task (210k/238k rows per n at sf0.1; unbounded at
    # corpus scale). Phase 1 ranks within (n, hash-bucket) — fully parallel
    # — and keeps only local rank ≤ quota (any global top-q row is top-q in
    # its own bucket, so this never drops a winner); the global per-n
    # window then sorts ≤ buckets × quota rows per n. Unigrams pass phase 1
    # unfiltered: every unigram needs its exact global rank (entity ids
    # derive from it), which is irreducibly one ordered pass over the
    # vocabulary — dictionary-sized, and the one global sort this plan
    # retains by design.
    n_buckets = 64
    w_local = Window.partitionBy("n", "_b").orderBy(
        F.desc("cnt"), F.asc("gram")
    )
    cand = (
        counted.withColumn("_b", F.pmod(F.xxhash64("gram"), F.lit(n_buckets)))
        .withColumn("_lrank", F.row_number().over(w_local))
        .filter((F.col("n") == 1) | (F.col("_lrank") <= quota_expr))
        .drop("_b", "_lrank")
    )
    sel = cand.withColumn("nrank", F.row_number().over(wn)).filter(
        (F.col("n") == 1) | (F.col("nrank") <= quota_expr)
    )
    # Unigram total (offsets phrase ranks): a window count over the
    # QUOTA-FILTERED survivors — dictionary-sized by construction, so the
    # single-partition window is trivial at any corpus scale.
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_uni = F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).over(w_all)
    base = sel.select(
        F.col("gram").alias("tok"),
        F.col("cnt"),
        F.when(F.col("n") == 1, F.col("nrank"))
        .otherwise(F.col("nrank") + offset_expr + n_uni)
        .alias("rank"),
    )
    cycle = ", ".join(f"'{t}'" for t in _TYPE_CYCLE)

    def _ent_struct(sf_sql: str) -> str:
        return (
            f"named_struct('surface_form', {sf_sql},"
            " 'entity_id', concat('E', lpad(cast(rank as string), 5, '0')),"
            f" 'entity_type', element_at(array({cycle}),"
            f" cast(pmod(rank - 1, {len(_TYPE_CYCLE)}) + 1 as int)),"
            " 'prior', 1.0D / rank)"
        )

    plural_sf = "concat(tok, 's')"
    rows = F.expr(
        f"case when rank <= {N_PLURAL_VARIANTS} and not contains(tok, ' ')"
        f" then array({_ent_struct('tok')}, {_ent_struct(plural_sf)})"
        f" else array({_ent_struct('tok')}) end"
    )
    return base.select(F.explode(rows).alias("e")).select(
        "e.surface_form", "e.entity_id", "e.entity_type", "e.prior"
    )


def build_relation_patterns(spark: SparkSession) -> DataFrame:
    """FIXTURES.md §3 — three predicates; P_co_occurs is the hot/skewed one
    (fires for most entity pairs per doc → exercises K1/K2 salting)."""
    rows = [
        ("P_co_occurs", "thing", "action", "doc", 0, False),
        ("P_near", "action", "system", "span", 5, False),
        ("P_follows", "thing", "system", "span", 3, True),
    ]
    return spark.createDataFrame(
        rows,
        "pred string, subj_type string, obj_type string, scope string,"
        " max_gap int, ordered boolean",
    )
