"""kbgen statistical-model tests (SURVEY.md §5.2 / FIXTURES.md §5):
learners equal hand-computed values; emitter reproduces learned
distributions within χ² tolerance; M2 caps respected; M3 rules fire."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kbgen_spark.models.emit import emit_synthetic
from kbgen_spark.models.learn import learn_emi, learn_m1, learn_m2
from kbgen_spark.models.rules import apply_horn_rules, parse_amie_rule


@pytest.fixture(scope="module")
def tiny_kb(spark):
    triples = [
        ("a", "p1", "x"),
        ("a", "p1", "y"),
        ("b", "p1", "x"),
        ("a", "p2", "a"),
        ("b", "p2", "y"),
        ("c", "p2", "x"),
    ]
    types = [
        ("a", "T1"),
        ("b", "T1"),
        ("c", "T2"),
        ("x", "T2"),
        ("y", "T2"),
        ("a", "T3"),
    ]
    t = spark.createDataFrame(triples, "subj string, pred string, obj string")
    y = spark.createDataFrame(types, "entity string, type string")
    return t, y


def test_learn_m1_exact(spark, tiny_kb):
    t, y = tiny_kb
    m = learn_m1(t, y)
    assert {(r["pred"], r["n"]) for r in m["rel_dist"].collect()} == {
        ("p1", 3),
        ("p2", 3),
    }
    # multitypes: a -> T1|T3, b -> T1, c/x/y -> T2
    mts = {r["entity"]: r["mt"] for r in m["multitypes"].collect()}
    assert mts == {"a": "T1|T3", "b": "T1", "c": "T2", "x": "T2", "y": "T2"}
    assert {(r["mt"], r["n"]) for r in m["mt_dist"].collect()} == {
        ("T1|T3", 1),
        ("T1", 1),
        ("T2", 3),
    }
    dr = {
        (r["pred"], r["subj_mt"], r["obj_mt"]): r["n"]
        for r in m["domain_range"].collect()
    }
    assert dr[("p1", "T1|T3", "T2")] == 2
    assert dr[("p1", "T1", "T2")] == 1
    c = m["counts"].collect()[0]
    assert c["n_entities"] == 5 and c["n_facts"] == 6


def test_learn_m2_degrees_and_reflexivity(spark, tiny_kb):
    t, y = tiny_kb
    m = learn_m2(t, y)
    od = {(r["pred"], r["deg"]): r["n"] for r in m["out_degree"].collect()}
    # p1: a has 2, b has 1 → hist {2:1, 1:1}; p2: a,b,c each 1 → {1:3}
    assert od == {("p1", 2): 1, ("p1", 1): 1, ("p2", 1): 3}
    refl = {r["pred"]: r["reflexivity"] for r in m["reflexivity"].collect()}
    assert refl["p1"] == 0.0 and abs(refl["p2"] - 1 / 3) < 1e-12


def test_emitter_chi2_close_to_learned(spark, tiny_kb):
    """V4 at n=10k reproduces A1 within χ² tolerance (FIXTURES.md §5)."""
    t, y = tiny_kb
    m = learn_m1(t, y)
    n = 10_000
    out = emit_synthetic(spark, m, n, seed=42, mode="m1")
    got = {r["pred"]: r["cnt"] for r in out.groupBy("pred").agg(F.count("*").alias("cnt")).collect()}
    # expected 50/50 between p1 and p2
    chi2 = sum((got.get(p, 0) - n / 2) ** 2 / (n / 2) for p in ("p1", "p2"))
    assert chi2 < 10.83, got  # p<0.001 critical value, 1 dof
    assert sum(got.values()) == n


def test_emitter_m2_respects_caps(spark, tiny_kb):
    t, y = tiny_kb
    m = learn_m2(t, y)
    out = emit_synthetic(spark, m, 5_000, seed=1, mode="m2")
    max_out = (
        out.groupBy("pred", "subj")
        .agg(F.count("*").alias("d"))
        .agg(F.max("d").alias("m"))
        .collect()[0]["m"]
    )
    # caps drawn from the learned histogram: max observed out-degree is 2
    assert max_out <= 2
    # p1 was never reflexive → no s==o facts for p1
    assert out.filter((F.col("pred") == "p1") & (F.col("subj") == F.col("obj"))).count() == 0


def test_emitter_emi_popularity_bias(spark):
    """eMi draws entities ∝ degree: a 9:1 degree split must show up."""
    triples = [("hub", "p", f"o{i}") for i in range(9)] + [("tail", "p", "o0")]
    types = [("hub", "T"), ("tail", "T")] + [(f"o{i}", "U") for i in range(9)]
    t = spark.createDataFrame(triples, "subj string, pred string, obj string")
    y = spark.createDataFrame(types, "entity string, type string")
    m = learn_emi(t, y)
    # uniform M1 would give hub≈tail; eMi must skew toward hub ~9:1.
    emi = emit_synthetic(spark, m, 4_000, seed=3, mode="emi", apply_caps=False)
    counts = {r["subj"]: r["n"] for r in emi.groupBy("subj").agg(F.count("*").alias("n")).collect()}
    hub, tail = counts.get("hub", 0), counts.get("tail", 0)
    assert hub > 4 * tail, counts


def test_rules_fire_with_confidence_and_dedup(spark):
    t = spark.createDataFrame(
        [(f"s{i}", "body", f"o{i}") for i in range(1000)]
        + [("s0", "head", "o0")],  # pre-existing head fact
        "subj string, pred string, obj string",
    )
    rules = [parse_amie_rule("?x <body> ?y => ?x <head> ?y", 0.5)]
    out = apply_horn_rules(t, rules, seed=42)
    heads = out.filter(F.col("pred") == "head")
    n = heads.count()
    # ~50% of 1000 fire; pre-existing not duplicated
    assert 400 < n < 600
    assert heads.groupBy("subj", "pred", "obj").count().filter("count > 1").count() == 0
    # determinism
    out2 = apply_horn_rules(t, rules, seed=42)
    assert out.exceptAll(out2).count() == 0 and out2.exceptAll(out).count() == 0


def test_emitter_deterministic_across_parallelism(spark, tiny_kb):
    """Same output at different shuffle partitioning (resume/retry safety)."""
    t, y = tiny_kb
    m = learn_m1(t, y)
    a = emit_synthetic(spark, m, 500, seed=9, mode="m1")
    b = emit_synthetic(spark, m.copy(), 500, seed=9, mode="m1").repartition(17)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
