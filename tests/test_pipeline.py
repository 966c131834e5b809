"""Extract/link/canon unit behavior + golden end-to-end + resume
(SURVEY.md §5.2 items 1, 2, 6)."""

from __future__ import annotations

import random

import golden_gen as G
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kbgen_spark import fixtures as FX
from kbgen_spark.operators.canonicalize import similar_surface_edges
from kbgen_spark.operators.extract import (
    detect_mentions_py,
    extract_mentions,
    extract_mentions_sql_literal,
    extract_mentions_sql_sparse,
)
from kbgen_spark.operators.link import link_mentions
from kbgen_spark.pipeline import (
    JACCARD_T,
    build_canon_map,
    run_pipeline,
    triples_fingerprint,
)
from kbgen_spark.plans.lineage import ParquetSnapshotStore

SF_DIR = "/root/testdata/sf0.001"


_SPANS_T = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _one_span_input(spark, surfaces, texts):
    """(docs, gazetteer) with one text span per doc."""
    docs = spark.createDataFrame(
        [(f"d{i:03d}", [("text", t, None, 0)]) for i, t in enumerate(texts)],
        _SPANS_T,
    )
    gaz = spark.createDataFrame([(s,) for s in sorted(surfaces)], "surface_form string")
    return docs, gaz


def _random_streams(seed):
    """200 seeded token streams over a 3-letter alphabet."""
    rng = random.Random(seed)
    return [
        " ".join([rng.choice(["a", "b", "c"]) for _ in range(rng.randint(0, 14))])
        for _ in range(200)
    ]


def _extract_input(request, spark, name):
    """The four extract inputs:

    - fixture: the fixture docs and k=5 gazetteer (nested prefixes);
    - ktoken: 3-5-token surfaces with nested prefixes that force real
      longest-match decisions;
    - dense_unigram: every token a unigram surface, overlapping multi
      surfaces up to 3 tokens (dense unigrams + overlapping multi islands);
    - islands: every adjacent pair a bigram surface, so each span is one
      maximal island of bigram candidates with unigrams competing at every
      blocked position."""
    if name == "fixture":
        return request.getfixturevalue("docs"), request.getfixturevalue("gazetteer")
    if name == "ktoken":
        surfaces = {
            "university",
            "university of california",
            "university of california berkeley campus",
            "of",
            "california",
            "berkeley campus",
            "state of the art",
            "art",
            "the",
        }
        texts = [
            "university of california berkeley campus is large",
            "the university of california system",
            "a state of the art university of california berkeley campus",
            "university of of california",
            "state of the state of the art art",
            "",
            "university",
            "of university california of",
        ]
        return _one_span_input(spark, surfaces, texts)
    if name == "dense_unigram":
        surfaces = {"a", "b", "a b", "b a", "a a", "a b a", "b b b", "b a a"}
        return _one_span_input(spark, surfaces, _random_streams(7))
    surfaces = {"a b", "b a", "a a", "b b", "a", "b"}
    return _one_span_input(spark, surfaces, _random_streams(42))


def _reference_mentions(docs, gazetteer) -> list:
    """detect_mentions_py over every text span, as sorted output rows."""
    surfaces = {r["surface_form"] for r in gazetteer.collect()}
    by_first: dict = {}
    for s in surfaces:
        by_first.setdefault(s.split(" ")[0], []).append(s)
    rows = []
    for d in docs.collect():
        for span_idx, s in enumerate(d["spans"]):
            if s["kind"] != "text":
                continue
            for mention, tok_start in detect_mentions_py(s["text"], surfaces, by_first):
                rows.append((d["doc_id"], span_idx, s["offset"], mention, tok_start))
    return sorted(rows)


_FORMULATIONS = {
    "literal": extract_mentions_sql_literal,
    "sparse": extract_mentions_sql_sparse,
    "udf": lambda docs, gaz: extract_mentions(docs, gaz, use_udf=True),
}


@pytest.mark.parametrize("inp", ["fixture", "ktoken", "dense_unigram", "islands"])
@pytest.mark.parametrize("formulation", sorted(_FORMULATIONS))
def test_extract_matches_python_reference(request, spark, formulation, inp):
    """Each extract formulation emits exactly the rows of the pure-python
    greedy longest-match reference (duplicates kept), and the Catalyst
    formulations carry no Python node in their plans."""
    docs, gaz = _extract_input(request, spark, inp)
    out = _FORMULATIONS[formulation](docs, gaz)
    exp = _reference_mentions(docs, gaz)
    assert exp, "input must produce mentions"
    assert sorted(tuple(r) for r in out.collect()) == exp
    if formulation != "udf":
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_extract_literal_rejects_surfaces_over_cap(spark):
    """Caller-supplied surfaces obey the literal cap too, and
    extract_mentions takes the sparse formulation above it."""
    from kbgen_spark.operators.extract import EXTRACT_LITERAL_MAX_SURFACES

    surfaces = [f"w{i:04d}" for i in range(EXTRACT_LITERAL_MAX_SURFACES + 1)]
    docs, gaz = _one_span_input(spark, surfaces, ["w0001 x w1024", "w0000", ""])
    with pytest.raises(ValueError, match="exceed"):
        extract_mentions_sql_literal(docs, gaz, surfaces)
    out = extract_mentions(docs, gaz, surfaces=surfaces)
    assert "Join" in out._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in out.collect()) == _reference_mentions(docs, gaz)


def test_extract_with_surfaces_runs_no_job_at_plan_build(spark, docs, gazetteer):
    """With the distinct surfaces supplied, building the extract plan
    submits no Spark job; without them the size decision costs one."""
    surfaces = sorted({r["surface_form"] for r in gazetteer.collect()})
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup())

    before = job_ids()
    extract_mentions(docs, gazetteer, surfaces=surfaces)
    assert job_ids() == before
    extract_mentions(docs, gazetteer)
    assert job_ids() != before


def test_extract_literal_no_shuffle_no_join(spark, docs, gazetteer):
    """Round-5: the whole-gazetteer-literal extract (the auto default for
    dictionary-small gazetteers) must be ONE projection — its executed plan
    contains no shuffle exchange, no join, and no Python node. Values are
    pinned by test_extract_matches_python_reference; this pins the PLAN
    SHAPE that makes it the 100 TB-scalable default."""
    out = extract_mentions_sql_literal(docs, gazetteer)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "Join", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in literal extract plan"
    # and auto routes here for the (dictionary-small) fixture gazetteer
    auto_plan = (
        extract_mentions(docs, gazetteer)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in auto_plan


def test_candidate_generation_literal_equals_join_fallback(
    spark, docs, gazetteer, monkeypatch
):
    """Round-5: the anchor-literal fast path (anchor→fmax map as a plan
    literal, phrases built array-side) must produce exactly the same
    candidate set as the large-gazetteer nxt-carry broadcast-join fallback
    (ANCHOR_LITERAL_MAX=0) on the k=5 fixture gazetteer."""
    from kbgen_spark.operators import extract
    from kbgen_spark.operators.extract import candidate_mentions

    lit = candidate_mentions(docs, gazetteer)
    monkeypatch.setattr(extract, "ANCHOR_LITERAL_MAX", 0)
    jn = candidate_mentions(docs, gazetteer)
    assert lit.exceptAll(jn).count() == 0
    assert jn.exceptAll(lit).count() == 0
    assert lit.count() > 0


def test_phrase_mentions_are_detected(spark, docs, gazetteer):
    phrases = [
        r["surface_form"]
        for r in gazetteer.filter(F.col("surface_form").contains(" ")).collect()
    ]
    got = extract_mentions(docs, gazetteer)
    n_phrase = got.filter(F.col("mention").isin(phrases)).count()
    assert n_phrase > 0, "two-token phrase mentions must fire"


def test_link_top1_prefers_exact_and_prior(spark):
    gaz = spark.createDataFrame(
        [
            ("scan", "E1", "thing", 0.9),
            ("scans", "E2", "thing", 0.5),
        ],
        "surface_form string, entity_id string, entity_type string, prior double",
    )
    mentions = spark.createDataFrame(
        [("d1", 0, 0, "scan", 0)],
        "doc_id string, span_idx int, offset int, mention string, tok_start int",
    )
    out = link_mentions(mentions, gaz).collect()
    assert len(out) == 1 and out[0]["entity_id"] == "E1"


def test_fused_link_canon_equals_two_step(spark, docs, gazetteer):
    """link_and_canonicalize(pre_normalized=True) is bit-equal to
    apply_canon_map(link_mentions(...)) on pipeline-fed mentions — the fused
    dictionary-side composition and the skipped norm_surface pass change the
    plan, never the rows."""
    from kbgen_spark.operators.link import link_and_canonicalize
    from kbgen_spark.operators.materialize import apply_canon_map

    mentions = extract_mentions(docs, gazetteer)
    canon = build_canon_map(gazetteer)
    two_step = apply_canon_map(link_mentions(mentions, gazetteer), canon)
    fused = link_and_canonicalize(mentions, gazetteer, canon, pre_normalized=True)
    cols = two_step.columns
    assert fused.columns == cols
    a = sorted(tuple(r) for r in two_step.collect())
    b = sorted(tuple(r) for r in fused.collect())
    assert a == b and len(a) > 0


def test_gazetteer_surfaces_are_norm_fixed_points(spark, gazetteer):
    """The pre_normalized link fast path assumes mentions (== surface forms,
    by extract's exact-equality match) probe the same verdict row that
    norm_surface(mention) would — guaranteed when every surface form is a
    fixed point of norm_surface. Pin it for the fixture gazetteer."""
    from kbgen_spark.functions.text import norm_surface

    drift = gazetteer.filter(
        norm_surface("surface_form") != F.col("surface_form")
    ).count()
    assert drift == 0


def test_unmatched_mentions_dropped(spark):
    gaz = spark.createDataFrame(
        [("scan", "E1", "thing", 0.9)],
        "surface_form string, entity_id string, entity_type string, prior double",
    )
    mentions = spark.createDataFrame(
        [("d1", 0, 0, "zzz", 0)],
        "doc_id string, span_idx int, offset int, mention string, tok_start int",
    )
    assert link_mentions(mentions, gaz).count() == 0


def test_lsh_recall_equals_exact_pairs(spark, gazetteer):
    """The LSH blocking must not lose any qualifying pair on the fixture
    gazetteer (golden uses exact all-pairs; P=R=1.0 depends on this)."""
    got = {
        (r["a"], r["b"])
        for r in similar_surface_edges(gazetteer, threshold=JACCARD_T)
        .select("a", "b")
        .collect()
    }
    gaz = gazetteer.toPandas()
    surfaces = sorted(gaz["surface_form"].unique())
    exp = set()
    for i, a in enumerate(surfaces):
        for b in surfaces[i + 1 :]:
            sa, sb = G._bigrams(a), G._bigrams(b)
            if len(sa & sb) / len(sa | sb) >= JACCARD_T:
                exp.add((a, b))
    assert got == exp


def test_canon_map_matches_golden(spark, gazetteer):
    got = build_canon_map(gazetteer).orderBy("entity_id").toPandas()
    exp = (
        G.canon_map_golden(gazetteer.toPandas())
        .sort_values("entity_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), exp, check_dtype=False, check_like=True
    )


def test_canon_local_equals_distributed(spark, gazetteer):
    """The driver-local canon fast path (dictionary-sized gazetteers) must be
    bit-equal to the distributed LSH→CC chain — same bands, same verify
    threshold, same min-struct tie-breaks."""
    local = build_canon_map(gazetteer).orderBy("entity_id").collect()
    dist = (
        build_canon_map(gazetteer, local_threshold=0)
        .orderBy("entity_id")
        .collect()
    )
    assert [tuple(r) for r in local] == [tuple(r) for r in dist]
    assert len(local) > 0


def test_canon_shingle_hash_threads_both_paths(spark, gazetteer):
    """Round-5: the injected MinHash family (md5-60-bit, the oracle-
    mirrorable one behind canon_map_mirror) must thread through BOTH canon
    paths and keep them bit-equal — band bucketing is slice-equality
    semantics in each, so the family choice may change which candidate
    pairs exist but never local-vs-distributed agreement."""
    from kbgen_spark.fixtures_openvocab import mirrorable_shingle_hash

    local = (
        build_canon_map(gazetteer, shingle_hash=mirrorable_shingle_hash)
        .orderBy("entity_id")
        .collect()
    )
    dist = (
        build_canon_map(
            gazetteer, local_threshold=0, shingle_hash=mirrorable_shingle_hash
        )
        .orderBy("entity_id")
        .collect()
    )
    assert [tuple(r) for r in local] == [tuple(r) for r in dist]
    assert len(local) > 0


def test_e2e_matches_golden_pr_1(spark, docs, gazetteer, patterns):
    """FIXTURES.md §4: P = R = 1.0 at fixture scale vs the pandas oracle."""
    from kbgen_spark.metrics import prf

    run = run_pipeline(spark, SF_DIR, docs=docs, gazetteer=gazetteer, patterns=patterns)
    golden = G.run_golden(docs.toPandas(), gazetteer.toPandas(), patterns.toPandas())
    golden_df = spark.createDataFrame(golden)
    m = prf(run.triples, golden_df)
    assert m["precision"] == 1.0 and m["recall"] == 1.0, m


def test_span_sequence_preserved_end_to_end(spark, flat_docs, docs):
    """BASELINE.json:15 — the docs table's span arrays are untouched by a
    full pipeline run (stages only derive new tables)."""
    before = docs.select("doc_id", "spans")
    run_pipeline(spark, SF_DIR, docs=docs)
    after = FX.interleave_documents(flat_docs).select("doc_id", "spans")
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def test_resume_skips_completed_stages(spark, tmp_path):
    store = ParquetSnapshotStore(str(tmp_path / "ckpt"))
    r1 = run_pipeline(spark, SF_DIR, store=store, stop_after="link")
    assert r1.skipped == []
    r2 = run_pipeline(spark, SF_DIR, store=store)
    # stage order is extract → canon → link (fused re-key) → materialize
    assert r2.skipped == ["extract", "canon", "link"]
    fp2 = triples_fingerprint(r2.triples)
    r3 = run_pipeline(spark, SF_DIR, store=store)
    assert r3.skipped == ["extract", "canon", "link", "materialize"]
    assert triples_fingerprint(r3.triples) == fp2
    # manifest carries per-partition lineage
    assert all("partition_rows" in s.manifest for s in r3.stages.values())


def test_resume_output_equals_fresh_run(spark, tmp_path):
    store = ParquetSnapshotStore(str(tmp_path / "ckpt2"))
    resumed = run_pipeline(spark, SF_DIR, store=store)
    fresh = run_pipeline(spark, SF_DIR)
    assert triples_fingerprint(resumed.triples) == triples_fingerprint(fresh.triples)


def test_run_pipeline_does_not_scan_docs_before_extract(spark, docs, gazetteer, patterns):
    """Building the extract stage runs no job over the corpus: any scan of
    these docs raises."""
    bad_docs = docs.filter(
        F.when(F.col("doc_id").isNotNull(), F.raise_error(F.lit("docs scanned")))
        .otherwise(F.lit(True))
    )
    run = run_pipeline(
        spark,
        SF_DIR,
        docs=bad_docs,
        gazetteer=gazetteer,
        patterns=patterns,
        stop_after="extract",
    )
    assert list(run.stages) == ["extract"]


def test_pre_normalized_guard_demotes_on_drifting_gazetteer(spark):
    """ADVICE r4: pre_normalized=True with a caller-supplied gazetteer whose
    surfaces are NOT norm_surface fixed points must fall back to the
    normalized probe — identical rows to pre_normalized=False — instead of
    silently changing link semantics."""
    from kbgen_spark.operators.link import link_and_canonicalize, link_mentions

    gaz = spark.createDataFrame(
        [("Scan!", "E1", "thing", 0.9)],  # norm_surface('Scan!') = 'scan'
        "surface_form string, entity_id string, entity_type string, prior double",
    )
    mentions = spark.createDataFrame(
        [("d1", 0, 0, "Scan!", 0)],
        "doc_id string, span_idx int, offset int, mention string, tok_start int",
    )
    fast = link_mentions(mentions, gaz, pre_normalized=True).collect()
    slow = link_mentions(mentions, gaz, pre_normalized=False).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    canon = spark.createDataFrame(
        [("E1", "E1", "thing")], "entity_id string, canon_id string, canon_type string"
    )
    fused_fast = link_and_canonicalize(mentions, gaz, canon, pre_normalized=True)
    fused_slow = link_and_canonicalize(mentions, gaz, canon, pre_normalized=False)
    assert sorted(map(tuple, fused_fast.collect())) == sorted(
        map(tuple, fused_slow.collect())
    )


def test_pipeline_max_ents_per_doc_guard(spark, docs, gazetteer, patterns):
    """Round-5 #8: the quadratic-pair-join guard is reachable through the
    pipeline entry point. A generous cap passes; an absurdly low one raises
    with the offending doc ids."""
    import pytest

    run = run_pipeline(
        spark,
        SF_DIR,
        docs=docs,
        gazetteer=gazetteer,
        patterns=patterns,
        max_ents_per_doc=10_000,
    )
    assert run.triples.count() > 0
    with pytest.raises(ValueError, match="max_ents_per_doc"):
        run_pipeline(
            spark,
            SF_DIR,
            docs=docs,
            gazetteer=gazetteer,
            patterns=patterns,
            max_ents_per_doc=1,
        ).triples.count()
