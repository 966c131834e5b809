"""Dedup / similarity / textstats / multimodal / skew operator tests."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kbgen_spark.operators import dedup as D
from kbgen_spark.operators import multimodal as M
from kbgen_spark.operators import similarity as S
from kbgen_spark.operators import textstats as T
from kbgen_spark.plans.skew import salted_count, salted_join


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark engines here"),
        (5, "the quick brown fox jumps over the lazy dog today"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_exact(dup_docs):
    groups = D.dedup_exact(dup_docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2] and groups[0]["keep_id"] == 1


def test_dedup_minhash_finds_near_dups(dup_docs):
    pairs = {(r["a"], r["b"]) for r in D.dedup_minhash_lsh(dup_docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (1, 5) in pairs
    assert not any(4 in p for p in pairs)


def test_dedup_minhash_jaccard_is_exact(dup_docs):
    # (1,2) identical docs → jaccard 1.0 exactly (verification is exact)
    row = [
        r
        for r in D.dedup_minhash_lsh(dup_docs, threshold=0.5).collect()
        if (r["a"], r["b"]) == (1, 2)
    ][0]
    assert row["jaccard"] == 1.0


def test_minhash_spreads_only_an_under_split_shuffle_free_input(spark):
    """dedup_minhash_lsh repartitions a one-split scan, and leaves a
    shuffled or already wide input alone, deciding without a job."""
    sc = spark.sparkContext

    def job_ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = spark.range(0, 100, 1, 1)
    shuffled = spark.range(0, 100, 1, 1).repartition(2)
    wide = spark.range(0, 100, 1, n)
    before = job_ids()
    spread = D._spread_under_split(narrow)
    assert D._spread_under_split(shuffled) is shuffled
    assert D._spread_under_split(wide) is wide
    assert job_ids() == before
    assert spread._jdf.queryExecution().logical().toString().startswith(
        f"Repartition {n}, true"
    )


def test_dedup_simhash(dup_docs):
    pairs = {(r["a"], r["b"]) for r in D.dedup_simhash(dup_docs, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert not any(4 in p for p in pairs)


def test_dedup_ngram_jaccard_exact_value(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id bigint, text string",
    )
    rows = {(r["a"], r["b"]): r["jaccard"] for r in D.dedup_ngram_jaccard(docs, 0.1).collect()}
    assert math.isclose(rows[(1, 2)], 3 / 5)
    assert (1, 3) not in rows  # no shared tokens → never even scored


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(50, 8).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id bigint, embedding array<float>"
    )
    q = emb.filter("vec_id < 2").select(F.col("vec_id").alias("qid"), "embedding")
    got = S.cosine_topk(emb, q, k=3).collect()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for qid in (0, 1):
        order = [
            i for i in np.argsort(-np.round(sims[qid], 6)) if i != qid
        ][:3]
        got_ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["qid"] == qid]
        assert got_ids == order, (qid, got_ids, order)


def test_ivf_recall_vs_bruteforce(spark):
    rng = np.random.RandomState(1)
    vecs = rng.randn(200, 16).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id bigint, embedding array<float>"
    )
    q = emb.filter("vec_id < 10").select(F.col("vec_id").alias("qid"), "embedding")
    exact = {
        (r["qid"], r["vec_id"]) for r in S.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["qid"], r["vec_id"])
        for r in S.ivf_topk(emb, q, k=5, nbits=2, dim=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall  # coarse quantizer, tiny buckets — sanity bound


def test_lang_id_markers(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of a to"),
            (2, "der hund und die katze ist das"),
            (3, "qqq www eee"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in T.lang_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_token_counts_vs_python(spark, flat_docs):
    got = T.token_counts(flat_docs).orderBy("doc_id").limit(20).collect()
    exp = flat_docs.orderBy("doc_id").limit(20).collect()
    for g, e in zip(got, exp):
        toks = e["text"].split(" ")
        assert g["ws_tokens"] == len(toks)
        assert g["distinct_tokens"] == len(set(toks))


def test_quality_score_bounds(flat_docs):
    q = T.quality_score(flat_docs)
    assert q.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0


def test_fingerprints_deterministic(flat_docs):
    a = T.doc_fingerprints(flat_docs)
    b = T.doc_fingerprints(flat_docs)
    assert a.exceptAll(b).count() == 0
    # distinct texts ⇒ distinct rolling fps at this scale
    n_docs = flat_docs.select("text").distinct().count()
    assert a.select("rolling_fp").distinct().count() == n_docs


def test_media_features_shape_and_determinism(docs):
    media = M.media_spans(docs)
    assert media.filter(F.col("payload").isNull()).count() == 0
    f1 = M.extract_media_features(media)
    assert f1.schema.simpleString().count("feature:array<float>") == 1
    rows = f1.limit(5).collect()
    assert all(len(r["feature"]) == 8 and r["width"] >= 64 for r in rows)
    f2 = M.extract_media_features(M.media_spans(docs))
    assert f1.exceptAll(f2).count() == 0


def test_salted_count_equals_plain(spark, flat_docs):
    toks = flat_docs.select(F.explode(F.split("text", " ")).alias("tok"))
    plain = {(r["tok"], r["cnt"]) for r in toks.groupBy("tok").agg(F.count("*").alias("cnt")).collect()}
    salted = {
        (r["tok"], r["cnt"])
        for r in salted_count(toks, ["tok"], salt_on=["tok"], buckets=8).collect()
    }
    # salt on a second independent column for real spreading
    toks2 = flat_docs.select(
        F.col("doc_id"), F.explode(F.split("text", " ")).alias("tok")
    )
    salted2 = {
        (r["tok"], r["cnt"])
        for r in salted_count(toks2, ["tok"], salt_on=["doc_id"], buckets=8).collect()
    }
    assert salted == plain  # degenerate salt (same col) still correct
    assert salted2 == plain


def test_salted_join_equals_plain(spark):
    big = spark.createDataFrame(
        [(i % 3, i) for i in range(1000)], "k int, v int"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, name string")
    plain = big.join(small, "k").select("k", "v", "name")
    salted = salted_join(big, small, "k", buckets=4).select("k", "v", "name")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_assemble_triples_ents_per_doc_guard(spark):
    """PLANS.md plan-debt guard: the doc-scope pair join is quadratic in
    distinct entities per doc; max_ents_per_doc fails fast (naming the
    offending docs) instead of launching the expansion, and the default
    (None) leaves the output untouched."""
    from kbgen_spark.operators.materialize import assemble_triples

    links = spark.createDataFrame(
        [("d1", 0, 0, "e1", "thing"), ("d1", 0, 2, "e2", "thing"),
         ("d1", 0, 4, "e3", "action"), ("d2", 0, 0, "e1", "thing")],
        "doc_id string, span_idx int, tok_start int, entity_c string, type_c string",
    )
    patterns = spark.createDataFrame(
        [("P_co_occurs", "thing", "action", "doc", 0, False)],
        "pred string, subj_type string, obj_type string, scope string, "
        "max_gap int, ordered boolean",
    )
    out = {(r["subj"], r["pred"], r["obj"])
           for r in assemble_triples(links, patterns).collect()}
    assert out == {("e1", "P_co_occurs", "e3"), ("e2", "P_co_occurs", "e3")}
    # cap above the max (3 distinct ents in d1) passes and is identical
    ok = assemble_triples(links, patterns, max_ents_per_doc=3)
    assert {(r["subj"], r["pred"], r["obj"]) for r in ok.collect()} == out
    with pytest.raises(ValueError, match="d1"):
        assemble_triples(links, patterns, max_ents_per_doc=2)


def test_scrub_pii_matches_python_re(spark):
    """scrub_pii counts and redaction vs Python re on planted PII — pins
    that Java-regex leftmost-non-overlapping semantics match re's."""
    import re

    rows = [
        (1, "mail a.b+c@ex-corp.io and http://x.io/p?q=1 call 555-010-1234 end"),
        (2, "no pii here at all"),
        (3, "two mails x@y.co z@w.org one url https://a.b/c"),
        (4, "+1 555 010 9999 is +countrycode phone; 555.010.9999 dotted"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in T.scrub_pii(df).collect()}
    from kbgen_spark.operators.textstats import PII_PATTERNS

    for doc_id, text in rows:
        scrubbed = text
        for name, pat in PII_PATTERNS:
            assert got[doc_id][f"n_{name}"] == len(re.findall(pat, text)), (
                doc_id,
                name,
            )
            scrubbed = re.sub(pat, f"[{name.upper()}]", scrubbed)
        assert got[doc_id]["scrubbed"] == scrubbed, doc_id


def test_cosine_near_dup_banded_finds_planted_pairs(spark):
    """The banded-LSH near-dup path must recover every planted perturbed
    copy (eps=0.02 keeps cosine ≥ ~0.994, far above the 0.98 threshold and
    far above the ~0.5 max cosine of unrelated random vectors), and its
    verified pairs must agree with brute force over the same candidates."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    aug = S.planted_near_dup_embeddings(emb, n_dups=20, eps=0.02)
    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in S.cosine_near_dup_banded(aug, threshold=0.98).collect()
    }
    planted = {(i, i + 100000) for i in range(20)}
    assert set(got) == planted, set(got) ^ planted
    assert all(c >= 0.99 for c in got.values())


def test_planted_near_dup_lateral_alias_guard(spark):
    """The noise hash must key on the ORIGINAL vec_id, not the re-aliased
    vec_id+100000 (Spark 4 lateral-column-alias resolution would silently
    rebind it inside a single select — the bug this pins against)."""
    from kbgen_spark.fixtures_openvocab import md5_60bit

    emb = spark.createDataFrame(
        [(0, [1.0] * 64)], "vec_id bigint, embedding array<float>"
    )
    dup = (
        S.planted_near_dup_embeddings(emb, n_dups=1, eps=0.02)
        .filter(F.col("vec_id") == 100000)
        .collect()[0]["embedding"]
    )
    h0 = (
        spark.range(1)
        .select((md5_60bit(F.lit("nd:0:0")) % 2001).alias("h"))
        .collect()[0]["h"]
    )
    expected0 = 1.0 + (h0 - 1000) / 1000.0 * 0.02
    assert abs(dup[0] - expected0) < 1e-12, (dup[0], expected0)
