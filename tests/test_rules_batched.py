"""Round-3 coverage: shape-batched M3 rule application, checked against the
per-rule reference below (VERDICT.md round-2 item 4), per-head firing
semantics and reflexive-atom handling (ADVICE items), type_closure
convergence guard, and the resume-fingerprint override fix in
run_pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kbgen_spark.functions.hashing import det_uniform
from kbgen_spark.models.rules import HornRule, apply_horn_rules, parse_amie_rule

SF_DIR = "/root/testdata/sf0.001"


def _atom_frame(triples, atom):
    """One body atom → matching rows with one column per DISTINCT variable.
    A reflexive atom p(x, x) filters subj == obj and yields a single column
    (duplicate-named columns would make downstream using-joins ambiguous)."""
    sv, p, ov = atom
    if sv == ov:
        return triples.filter(
            (F.col("pred") == p) & (F.col("subj") == F.col("obj"))
        ).select(F.col("subj").alias(sv))
    return triples.filter(F.col("pred") == p).select(
        F.col("subj").alias(sv), F.col("obj").alias(ov)
    )


def reference(triples, rules: list[HornRule], seed: int = 42):
    """The per-rule evaluator the per-shape plan replaced, kept as its
    reference: one DataFrame plan per rule (filter per body atom, using-join
    on shared variables), the same per-head det_uniform draw, unioned and
    deduped against the input facts."""
    fired = None
    for rule in rules:
        bound = _atom_frame(triples, rule.body[0])
        for atom in rule.body[1:]:
            nxt = _atom_frame(triples, atom)
            bound = bound.join(nxt, [c for c in bound.columns if c in nxt.columns])
        hsv, hp, hov = rule.head
        part = bound.filter(
            det_uniform(hsv, hov, F.lit(rule.key()), seed=seed + 13)
            < F.lit(rule.confidence)
        ).select(
            F.col(hsv).alias("subj"), F.lit(hp).alias("pred"), F.col(hov).alias("obj")
        )
        fired = part if fired is None else fired.unionByName(part)
    if fired is None:
        return triples
    new_heads = fired.join(triples, ["subj", "pred", "obj"], "left_anti").distinct()
    return triples.unionByName(new_heads)


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _dense_kb(spark):
    preds = [f"p{i}" for i in range(8)]
    ents = [f"e{i}" for i in range(15)]
    rows = [
        (ents[i], preds[(i * 7 + j * 3) % 8], ents[j])
        for i in range(15)
        for j in range(15)
        if (i + j) % 3 == 0
    ]
    return _triples(spark, rows), preds


def _rule_corpus(preds):
    """115 deterministic rules spanning every supported variable-role shape:
    direct/inverted/reflexive 1-atom, and all four shared-variable layouts of
    a 2-atom body plus the both-head-vars-cyclic layout."""
    templates = [
        "?x <{b0}> ?y => ?x <{h}> ?y",
        "?y <{b0}> ?x => ?x <{h}> ?y",
        "?x <{b0}> ?x => ?x <{h}> ?x",
        "?x <{b0}> ?z  ?z <{b1}> ?y => ?x <{h}> ?y",  # chain
        "?z <{b0}> ?x  ?z <{b1}> ?y => ?x <{h}> ?y",  # diverging
        "?x <{b0}> ?z  ?y <{b1}> ?z => ?x <{h}> ?y",  # converging
        "?z <{b0}> ?x  ?y <{b1}> ?z => ?x <{h}> ?y",  # reverse chain
        "?x <{b0}> ?y  ?y <{b1}> ?x => ?x <{h}> ?y",  # cyclic body
    ]
    rules, k = [], 0
    for tmpl in templates:
        for b0 in preds[:5]:
            for b1 in preds[2:6] if "{b1}" in tmpl else [None]:
                conf = [0.3, 0.7, 1.0][k % 3]
                rules.append(
                    parse_amie_rule(tmpl.format(b0=b0, b1=b1 or "", h=f"h{k % 4}"), conf)
                )
                k += 1
    return rules


def test_batched_equals_per_rule_on_100plus_rules(spark):
    """The done-criterion for round-2 item 4: >100 generated rules through
    ONE plan per shape, output exactly equal to the per-rule reference."""
    t, preds = _dense_kb(spark)
    rules = _rule_corpus(preds)
    assert len(rules) >= 100
    per = {tuple(r) for r in reference(t, rules, seed=7).collect()}
    bat_df = apply_horn_rules(t, rules, seed=7)
    assert {tuple(r) for r in bat_df.collect()} == per


def test_batched_plan_joins_scale_with_shapes_not_rules(spark):
    """115 rules / 8 shapes must compile to O(shapes) joins (each 2-atom
    shape: 1 broadcast rule join + 1 self join; plus the final left_anti) —
    per-rule compilation would emit >200 join nodes."""
    t, preds = _dense_kb(spark)
    rules = _rule_corpus(preds)
    plan = (
        apply_horn_rules(t, rules, seed=7)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Join ") <= 3 * 8 + 1


def test_batched_rule_table_is_local_relation(spark):
    t, preds = _dense_kb(spark)
    plan = apply_horn_rules(t, _rule_corpus(preds)[:3], seed=7)
    assert "LocalRelation [__p0" in plan._jdf.queryExecution().optimizedPlan().toString()


def test_reflexive_second_atom(spark):
    """ADVICE item: a reflexive atom in non-first body position must filter
    subj == obj (not produce duplicate-named columns)."""
    t = _triples(
        spark,
        [
            ("a", "p1", "m"),
            ("a", "p1", "n"),
            ("m", "self", "m"),  # reflexive: qualifies
            ("n", "self", "x"),  # not reflexive: must not bind
        ],
    )
    rule = parse_amie_rule("?a <p1> ?e  ?e <self> ?e => ?a <fixed> ?e", 1.0)
    for impl in (reference, apply_horn_rules):
        out = {
            tuple(r)
            for r in impl(t, [rule], seed=3).collect()
            if r["pred"] == "fixed"
        }
        assert out == {("a", "fixed", "m")}, impl.__name__


def test_per_head_firing_is_one_draw_per_head(spark):
    """ADVICE item: a head derivable through k bindings fires with
    probability = confidence (ONE hash draw on the head + rule key), not
    1-(1-conf)^k. With 40 distinct intermediate nodes per head, a
    per-binding draw at conf 0.3 would fire each head with p ≈ 1-0.7^40
    ≈ 1.0; the per-head draw must reproduce exactly the det_uniform
    decision computed directly on the distinct heads."""
    rows = [("s%d" % i, "p1", "m%d" % j) for i in range(6) for j in range(40)]
    rows += [("m%d" % j, "p2", "o%d" % (j % 2)) for j in range(40)]
    t = _triples(spark, rows)
    rule = parse_amie_rule("?x <p1> ?z  ?z <p2> ?y => ?x <h> ?y", 0.3)

    heads = (
        t.filter(F.col("pred") == "p1")
        .select(F.col("subj").alias("x"), F.col("obj").alias("z"))
        .join(
            t.filter(F.col("pred") == "p2").select(
                F.col("subj").alias("z"), F.col("obj").alias("y")
            ),
            "z",
        )
        .select("x", "y")
        .distinct()
    )
    expected = {
        (r["x"], "h", r["y"])
        for r in heads.filter(
            det_uniform("x", "y", F.lit(rule.key()), seed=11 + 13) < F.lit(0.3)
        ).collect()
    }
    assert expected, "fixture degenerate: no head fired at conf 0.3"
    assert len(expected) < 12, "fixture degenerate: every head fired"
    for impl in (reference, apply_horn_rules):
        fired = {
            tuple(r)
            for r in impl(t, [rule], seed=11).collect()
            if r["pred"] == "h"
        }
        assert fired == expected, impl.__name__


def test_batched_rejects_unsafe_rule(spark):
    t, _ = _dense_kb(spark)
    bad = parse_amie_rule("?x <p1> ?z => ?x <h> ?y", 1.0)
    with pytest.raises(ValueError, match="unsafe"):
        apply_horn_rules(t, [bad], seed=1)


def test_type_closure_raises_on_truncation(spark):
    """ADVICE item: a hierarchy deeper than the doubling budget must raise,
    not silently return a truncated closure."""
    from kbgen_spark.models.learn import type_closure

    chain = [(f"t{i}", f"t{i + 1}") for i in range(6)]  # depth 6
    h = spark.createDataFrame(chain, "type string, parent string")
    # max_depth=1 -> one doubling round -> covers depth 2 only
    with pytest.raises(ValueError, match="did not converge"):
        type_closure(h, max_depth=1)
    full = type_closure(h, max_depth=8)
    # t0 rolls up to all 6 ancestors when the budget suffices
    assert full.filter(F.col("type") == "t0").count() == 6


def test_pipeline_override_changes_resume_fingerprint(spark, tmp_path):
    """ADVICE item: a store-backed run with a caller-supplied docs override
    must not resume snapshots computed from the sf_dir default corpus."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.pipeline import run_pipeline
    from kbgen_spark.plans.lineage import ParquetSnapshotStore

    store = ParquetSnapshotStore(str(tmp_path / "ckpt"))
    r1 = run_pipeline(spark, SF_DIR, store=store)
    r1.triples.count()
    r2 = run_pipeline(spark, SF_DIR, store=store)
    assert len(r2.skipped) == 4  # same inputs: all stages resume

    flat = FX.load_flat_documents(spark, SF_DIR).limit(50)
    docs_override = FX.interleave_documents(flat)
    r3 = run_pipeline(spark, SF_DIR, store=store, docs=docs_override)
    assert r3.skipped == []  # different docs: nothing may resume
