"""Extract/link/canon unit behavior + golden end-to-end + resume
(SURVEY.md §5.2 items 1, 2, 6)."""

from __future__ import annotations

import random
import uuid

import golden_gen as G
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kbgen_spark import fixtures as FX
from kbgen_spark.functions.text import char_ngrams
from kbgen_spark.io import local_frame
from kbgen_spark.operators.canonicalize import (
    minhash_signatures,
    similar_surface_edges,
)
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


def _job_count(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` submits."""
    sc = spark.sparkContext
    group = f"count_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _random_streams(seed):
    """200 seeded token streams over a 3-letter alphabet."""
    rng = random.Random(seed)
    return [
        " ".join([rng.choice(["a", "b", "c"]) for _ in range(rng.randint(0, 14))])
        for _ in range(200)
    ]


def _extract_input(request, spark, name):
    """The five extract inputs:

    - fixture: the fixture docs and k=5 gazetteer (nested prefixes);
    - ktoken: 3-5-token surfaces with nested prefixes that force real
      longest-match decisions;
    - dense_unigram: every token a unigram surface, overlapping multi
      surfaces up to 3 tokens (dense unigrams + overlapping multi islands);
    - islands: every adjacent pair a bigram surface, so each span is one
      maximal island of bigram candidates with unigrams competing at every
      blocked position;
    - adversarial: nested surfaces; a phrase anchored inside a fired
      phrase (blocked) followed by a unigram that fires; phrases ending
      exactly at the span end; phrases longer than their span; spans with
      phrase candidates but no unigram; one-token and unmatched spans."""
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
    if name == "adversarial":
        surfaces = {"a b", "a b c", "b c d", "c", "d", "x y", "y z"}
        texts = [
            "a b c d",
            "c a b",
            "a b c",
            "b c",
            "x y z",
            "x y x y",
            "a",
            "c",
            "zz top",
            "",
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


@pytest.mark.parametrize(
    "inp", ["fixture", "ktoken", "dense_unigram", "islands", "adversarial"]
)
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
    """The literal formulation obeys its cap, and extract_mentions takes
    the sparse formulation above it."""
    from kbgen_spark.operators.extract import EXTRACT_LITERAL_MAX_SURFACES

    surfaces = [f"w{i:04d}" for i in range(EXTRACT_LITERAL_MAX_SURFACES + 1)]
    docs, gaz = _one_span_input(spark, surfaces, ["w0001 x w1024", "w0000", ""])
    with pytest.raises(ValueError, match="exceed"):
        extract_mentions_sql_literal(docs, gaz)
    out = extract_mentions(docs, gaz)
    assert "Join" in out._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in out.collect()) == _reference_mentions(docs, gaz)


def test_make_extract_fn_builds_sparse_plans_with_no_job(spark):
    """Above the literal cap make_extract_fn resolves the sparse plan's
    decisions (k, the anchor rows) once: building its plan runs no Spark
    job, call after call, and each plan emits the python reference rows."""
    from kbgen_spark.operators.extract import (
        EXTRACT_LITERAL_MAX_SURFACES,
        make_extract_fn,
    )

    surfaces = [f"w{i:04d}" for i in range(EXTRACT_LITERAL_MAX_SURFACES + 1)]
    surfaces += ["w0001 w0002", "w0003 x w0004"]
    texts = ["w0001 w0002 w0003 x w0004", "w0003 x w0005 w0001 w0002", "x", ""]
    docs, gaz = _one_span_input(spark, surfaces, texts)
    extract_fn = make_extract_fn(gaz)
    plans = []

    def build():
        plans.extend(extract_fn(docs) for _ in range(3))

    assert _job_count(spark, build) == 0
    exp = _reference_mentions(docs, gaz)
    assert any(" " in r[3] for r in exp)
    for out in plans:
        assert "Join" in out._jdf.queryExecution().executedPlan().toString()
        assert sorted(tuple(r) for r in out.collect()) == exp


def test_extract_udf_rejects_surfaces_over_cap(spark, monkeypatch):
    """The UDF path collects at most GAZETTEER_MAX_SURFACES + 1 surfaces
    and fails fast with a named error above the cap."""
    from kbgen_spark.operators import extract

    docs, gaz = _one_span_input(spark, ["a", "b", "c"], ["a b c d", "c"])
    monkeypatch.setattr(extract, "GAZETTEER_MAX_SURFACES", 2)
    with pytest.raises(ValueError, match="more than 2 surface forms"):
        extract_mentions(docs, gaz, use_udf=True)
    monkeypatch.setattr(extract, "GAZETTEER_MAX_SURFACES", 3)
    out = extract_mentions(docs, gaz, use_udf=True)
    assert sorted(tuple(r) for r in out.collect()) == _reference_mentions(docs, gaz)


def test_run_pipeline_reads_the_gazetteer_once(spark, docs, gazetteer, patterns):
    """One driver read of the gazetteer feeds every dictionary-sized
    decision. On a fresh gazetteer, extract plus canon run one job (the
    read); afterwards make_extract_fn and build_canon_map on that
    gazetteer run none."""
    from kbgen_spark.operators.extract import make_extract_fn

    gazetteer.count()  # fill the fixture's cache, so the read is one job
    gaz = gazetteer.select("*")
    runs = []

    def extract_and_canon():
        runs.append(
            run_pipeline(
                spark, SF_DIR, docs=docs, gazetteer=gaz, patterns=patterns,
                stop_after="canon",
            )
        )

    assert _job_count(spark, extract_and_canon) == 1
    assert list(runs[0].stages) == ["extract", "canon"]
    assert _job_count(spark, lambda: make_extract_fn(gaz)(docs)) == 0
    assert _job_count(spark, lambda: build_canon_map(gaz)) == 0


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
    """link_and_canonicalize is bit-equal to apply_canon_map(link_mentions(...))
    on pipeline-fed mentions — the fused dictionary-side composition changes
    the plan, never the rows."""
    from kbgen_spark.operators.link import link_and_canonicalize
    from kbgen_spark.operators.materialize import apply_canon_map

    mentions = extract_mentions(docs, gazetteer)
    canon = build_canon_map(gazetteer)
    two_step = apply_canon_map(link_mentions(mentions, gazetteer), canon)
    fused = link_and_canonicalize(mentions, gazetteer, canon)
    cols = two_step.columns
    assert fused.columns == cols
    a = sorted(tuple(r) for r in two_step.collect())
    b = sorted(tuple(r) for r in fused.collect())
    assert a == b and len(a) > 0


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
    threshold, same min-struct tie-breaks. The fixture's similarity graph is
    far under connected_components' own 100k-edge gate, so the distributed
    chain resolves its components with the driver union-find; the
    large/small-star rounds run only in tests/test_graph.py."""
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


def _minhash_signatures_groupby(sh, key, k, shingle_hash):
    """The explode + groupBy-min formulation canon and dedup both replaced:
    (key, sh array) → (key, sig), the reference their per-row projection
    must equal. explode gives a null or empty shingle array no row."""
    ex = sh.select(key, F.explode("sh").alias("shingle"))
    aggs = [F.min(shingle_hash(F.col("shingle"), i)).alias(f"h{i}") for i in range(k)]
    return ex.groupBy(key).agg(*aggs).select(
        key, F.array(*[f"h{i}" for i in range(k)]).alias("sig")
    )


@pytest.mark.parametrize("family", ["xxhash64", "mirrorable"])
def test_minhash_signatures_equal_groupby_min(spark, family):
    """One projection per row gives the groupBy-min signatures bit for bit,
    for both hash families: canon's char-bigram signatures on empty, 1-char,
    repeated-bigram, non-ASCII and multi-word surfaces, and dedup's
    word-shingle signatures on a 1-token doc, a repeated shingle, non-ASCII
    text, a null-text doc and an empty set (those two get no row)."""
    from kbgen_spark.fixtures_openvocab import mirrorable_shingle_hash
    from kbgen_spark.operators.dedup import (
        doc_shingle_sets,
        minhash_signatures_from_sets,
    )

    h = {
        "xxhash64": lambda c, i: F.xxhash64(c, F.lit(i)),
        "mirrorable": mirrorable_shingle_hash,
    }[family]
    injected = None if family == "xxhash64" else h
    surfaces = ["", "a", "é", "aa", "aaaa", "abab", "über", "日本語"]
    surfaces += ["new york", "new york city", "a b c", " lead space", "tab\tsep"]
    sf = local_frame(spark, [(x,) for x in surfaces], "surface_form string")
    ref = _minhash_signatures_groupby(
        sf.select("surface_form", char_ngrams("surface_form", 2).alias("sh")),
        "surface_form",
        32,
        h,
    )
    got = minhash_signatures(sf, "surface_form", 32, shingle_hash=injected)
    want = {r[0]: list(r[1]) for r in ref.collect()}
    assert {r[0]: list(r[1]) for r in got.collect()} == want
    assert len(want) == len(surfaces)

    texts = [
        (0, "solo"),
        (1, "a b a b a b"),
        (2, "über straße 日本語 テキスト über straße"),
        (3, None),
        (4, "the quick brown fox jumps over the lazy dog"),
    ]
    docs = local_frame(spark, texts, "doc_id bigint, text string")
    sh = doc_shingle_sets(docs).unionByName(
        local_frame(spark, [(5, [])], "doc_id bigint, sh array<string>")
    )
    ref = _minhash_signatures_groupby(sh, "doc_id", 32, h)
    got = minhash_signatures_from_sets(sh, 32, shingle_hash=injected)
    want = {r[0]: list(r[1]) for r in ref.collect()}
    assert {r[0]: list(r[1]) for r in got.collect()} == want
    assert sorted(want) == [0, 1, 2, 4]


def test_canon_local_path_runs_no_job(spark, gazetteer):
    """Once the gazetteer's rows are read to the driver, building the canon
    map and collecting it submits no Spark job: the signature projection
    folds into its LocalRelation on the driver."""
    from kbgen_spark.io import dictionary_rows

    gaz = gazetteer.select("*")
    assert dictionary_rows(gaz)
    got: list = []
    assert _job_count(spark, lambda: got.extend(build_canon_map(gaz).collect())) == 0
    assert len(got) > 0


def test_canon_dense_buckets_take_the_distributed_path(spark, monkeypatch):
    """Canon's driver loop is bounded by its candidate pairs, not its rows:
    a small gazetteer whose surfaces share every band bucket takes the
    distributed chain once Σ C(|bucket|, 2) is over CANON_LOCAL_MAX_PAIRS,
    and gives the same map."""
    from kbgen_spark import pipeline
    from kbgen_spark.pipeline import LSH_BANDS

    # Every "abab…" surface of 3+ chars has the bigram set {ab, ba}, so
    # their signatures are equal and the 20 share all 16 buckets.
    dense = [("ab" * 11)[:n] for n in range(3, 23)]
    surfaces = dense + ["xyz", "qrst"]
    gaz = spark.createDataFrame(
        [(s, f"E{i:02d}", ("thing", "action")[i % 2]) for i, s in enumerate(surfaces)],
        "surface_form string, entity_id string, entity_type string",
    )
    local = build_canon_map(gaz)
    assert local._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    want = sorted(map(tuple, local.collect()))
    assert want[0] == ("E00", "E00", "thing") and len(want) == len(surfaces)

    monkeypatch.setattr(pipeline, "CANON_LOCAL_MAX_PAIRS", LSH_BANDS * 190 - 1)
    gated = build_canon_map(gaz)
    assert gated._jdf.queryExecution().optimizedPlan().nodeName() != "LocalRelation"
    assert sorted(map(tuple, gated.collect())) == want


def test_driver_built_tables_are_local_relations(spark, gazetteer):
    """The canon map and the relation patterns reach Spark as Arrow
    LocalRelations, not pickled-row RDDs."""
    for df in (build_canon_map(gazetteer), FX.build_relation_patterns(spark)):
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation", plan.toString()


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


def _plan_nodes(plan):
    """A physical plan's nodes, entering query stages and reused exchanges
    but not a cached relation's own plan."""
    yield plan
    name = plan.nodeName()
    if name.endswith("QueryStage"):
        yield from _plan_nodes(plan.plan())
    elif name == "ReusedExchange":
        yield from _plan_nodes(plan.child())
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _final_plan_nodes(df) -> list:
    """Nodes of ``df``'s final AQE plan; run an action on ``df`` first."""
    return list(_plan_nodes(df._jdf.queryExecution().executedPlan().executedPlan()))


def test_pair_joins_reuse_the_persisted_doc_layout(spark, docs, gazetteer, patterns):
    """With no store the link stage persists its rows laid out by doc_id,
    and the pair joins read that layout: above the in-memory link scan the
    final plan has one hash exchange, the final distinct's. Both pair joins
    are shuffled-hash joins; the pattern joins broadcast."""
    run = run_pipeline(spark, SF_DIR, docs=docs, gazetteer=gazetteer, patterns=patterns)
    assert len(run.triples.collect()) == 432
    nodes = _final_plan_nodes(run.triples)
    exchanges = [
        n.outputPartitioning().toString() for n in nodes if n.nodeName() == "Exchange"
    ]
    assert len(exchanges) == 1 and exchanges[0].startswith("hashpartitioning(subj#")
    joins = sorted(n.nodeName() for n in nodes if n.nodeName().endswith("Join"))
    assert joins == ["BroadcastHashJoin"] * 2 + ["ShuffledHashJoin"] * 2, joins


def test_pair_joins_lay_out_read_back_links_by_doc(
    spark, docs, gazetteer, patterns, tmp_path
):
    """Links read back from parquet (a store-backed run) have no layout, so
    assemble_triples lays them out itself: every exchange under a pair join
    is its REPARTITION_BY_NUM on doc_id, which AQE never coalesces, and
    none is an exchange the planner inserted (ENSURE_REQUIREMENTS)."""
    from kbgen_spark.operators.materialize import assemble_triples

    path = str(tmp_path / "links")
    run = run_pipeline(
        spark, SF_DIR, docs=docs, gazetteer=gazetteer, patterns=patterns,
        stop_after="link",
    )
    run.stages["link"].df.write.parquet(path)
    triples = assemble_triples(spark.read.parquet(path), patterns)
    assert len(triples.collect()) == 432
    pair_joins = [
        n for n in _final_plan_nodes(triples) if n.nodeName() == "ShuffledHashJoin"
    ]
    assert len(pair_joins) == 2
    for join in pair_joins:
        feeds = [
            (n.shuffleOrigin().toString(), n.outputPartitioning().toString())
            for side in (join.left(), join.right())
            for n in _plan_nodes(side)
            if n.nodeName() == "Exchange"
        ]
        assert feeds and all(
            origin == "REPARTITION_BY_NUM" and part.startswith("hashpartitioning(doc_id#")
            for origin, part in feeds
        ), feeds


def test_run_pipeline_reads_no_corpus_when_inputs_are_given(
    spark, docs, gazetteer, patterns
):
    """With docs and gazetteer supplied, run_pipeline never opens sf_dir."""
    run = run_pipeline(
        spark, "/nonexistent", docs=docs, gazetteer=gazetteer, patterns=patterns
    )
    assert triples_fingerprint(run.triples) == "432:3272129491746201518"


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


def test_link_drifting_gazetteer_matches_golden(spark):
    """Normalization resolves on the dictionary side: for a gazetteer whose
    surfaces are NOT all norm_surface fixed points, probing the raw mention
    links exactly as the normalized golden reference does. Covers a surface
    whose norm is another surface ('Scan!' → 'scan'), one whose norm is no
    surface ('Node?'), duplicate surface rows (prior tie → entity_id asc),
    and a higher-prior non-fixed-point row that must not win. The verdict
    costs one shuffle of the gazetteer."""
    from kbgen_spark.operators.link import link_and_canonicalize, link_verdicts
    from kbgen_spark.operators.materialize import apply_canon_map

    gaz = spark.createDataFrame(
        [
            ("scan", "E2", "thing", 0.8),
            ("scan", "E1", "action", 0.8),
            ("Scan!", "E9", "system", 0.99),
            ("Node?", "E5", "thing", 0.7),
            ("edge", "E3", "thing", 0.6),
            ("edge", "E4", "action", 0.4),
        ],
        "surface_form string, entity_id string, entity_type string, prior double",
    )
    mentions = spark.createDataFrame(
        [
            ("d1", 0, 0, "scan", 0),
            ("d1", 0, 5, "Scan!", 1),
            ("d1", 1, 0, "Node?", 0),
            ("d2", 0, 0, "Scan!", 0),
            ("d2", 0, 6, "edge", 1),
        ],
        "doc_id string, span_idx int, offset int, mention string, tok_start int",
    )
    canon = spark.createDataFrame(
        [("E1", "E3", "thing")], "entity_id string, canon_id string, canon_type string"
    )

    ref = G.links_golden(mentions.toPandas(), gaz.toPandas())
    cols = link_mentions(mentions, gaz).columns
    want = sorted(ref[cols].itertuples(index=False, name=None))
    assert [(r[0], r[1], r[6]) for r in want] == [
        ("d1", 0, "E1"),
        ("d1", 0, "E1"),
        ("d2", 0, "E1"),
        ("d2", 0, "E3"),
    ]
    assert sorted(map(tuple, link_mentions(mentions, gaz).collect())) == want

    ref_df = spark.createDataFrame(ref[cols])
    want_c = sorted(map(tuple, apply_canon_map(ref_df, canon).collect()))
    got_c = sorted(map(tuple, link_and_canonicalize(mentions, gaz, canon).collect()))
    assert got_c == want_c and len(got_c) == 4

    plan = link_verdicts(gaz)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def _canon_verdicts_reference(gaz, canon) -> list:
    """link_verdicts left-joined with the canon map: the fused verdict's
    distributed formulation, as sorted rows."""
    from kbgen_spark.operators.link import link_verdicts

    ref = link_verdicts(gaz).join(canon, "entity_id", "left").selectExpr(
        "mention",
        "coalesce(canon_id, entity_id)",
        "coalesce(canon_type, entity_type)",
    )
    return sorted(map(tuple, ref.collect()))


def test_canon_verdicts_equal_link_verdicts_with_canon_map(
    spark, gazetteer, monkeypatch
):
    """The driver-built fused verdict equals link_verdicts left-joined with
    the canon map on the fixture gazetteer, and so does the fallback taken
    when the gazetteer is over the driver-read cap."""
    from kbgen_spark import io
    from kbgen_spark.operators.link import canon_verdicts

    canon = build_canon_map(gazetteer)
    want = _canon_verdicts_reference(gazetteer, canon)
    assert len(want) > 0
    local = canon_verdicts(gazetteer, canon)
    assert local._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    assert sorted(map(tuple, local.collect())) == want

    monkeypatch.setattr(io, "DICTIONARY_MAX_ROWS", 0)
    fallback = canon_verdicts(gazetteer.select("*"), canon)
    assert "Window" in fallback._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, fallback.collect())) == want


def test_canon_verdicts_edge_surfaces(spark):
    """The driver ranking and normalization match the window's on tied
    priors, a surface whose norm is another surface ('Scan!'), surfaces
    whose norm is no surface ('Node?', 'Über'), a non-ASCII surface whose
    norm is a surface ('café' → 'caf'), NULL priors (sorted last) and a
    NaN prior (sorted above every number)."""
    from kbgen_spark.operators.link import canon_verdicts

    gaz = spark.createDataFrame(
        [
            ("scan", "E2", "thing", 0.8),
            ("scan", "E1", "action", 0.8),
            ("Scan!", "E9", "system", 0.99),
            ("Node?", "E5", "thing", 0.7),
            ("Über", "E8", "thing", 0.3),
            ("café", "E6", "thing", 0.9),
            ("caf", "E7", "action", 0.5),
            ("edge", "E4", "action", None),
            ("edge", "E3", "thing", 0.1),
            ("lone", "E10", "thing", None),
            ("lone", "E12", "action", float("nan")),
            ("lone", "E11", "thing", 0.2),
        ],
        "surface_form string, entity_id string, entity_type string, prior double",
    )
    canon = spark.createDataFrame(
        [("E1", "E3", "thing"), ("E7", "E6", "thing")],
        "entity_id string, canon_id string, canon_type string",
    )
    want = _canon_verdicts_reference(gaz, canon)
    assert want == [
        ("Scan!", "E3", "thing"),
        ("caf", "E6", "thing"),
        ("café", "E6", "thing"),
        ("edge", "E3", "thing"),
        ("lone", "E12", "action"),
        ("scan", "E3", "thing"),
    ]
    assert sorted(map(tuple, canon_verdicts(gaz, canon).collect())) == want


def test_canon_verdicts_run_no_job(spark, gazetteer):
    """Once the gazetteer's rows are read to the driver and the canon map is
    a LocalRelation, building the fused verdict and collecting it submits
    no Spark job."""
    from kbgen_spark.io import dictionary_rows
    from kbgen_spark.operators.link import canon_verdicts

    gaz = gazetteer.select("*")
    assert dictionary_rows(gaz)
    canon = build_canon_map(gaz)
    got: list = []
    assert _job_count(spark, lambda: got.extend(canon_verdicts(gaz, canon).collect())) == 0
    assert len(got) > 0


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
