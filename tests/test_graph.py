from __future__ import annotations

import random

import pytest

from kbgen_spark.operators.graph import connected_components


def _cc_oracle(edges: list[tuple], vertices: set) -> dict:
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then map to min member per component
    comp = {}
    for v in vertices:
        comp.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comp.values() for v in members}


def _run(spark, edges, vertices):
    e = spark.createDataFrame(edges or [("x", "x")], "src string, dst string")
    if not edges:
        e = e.filter("1=0")
    v = spark.createDataFrame([(x,) for x in sorted(vertices)], "id string")
    exp = _cc_oracle(edges, set(vertices))
    # both execution paths: distributed large/small-star AND local union-find
    for thresh in (0, 100_000):
        got = {
            r["id"]: r["component"]
            for r in connected_components(e, vertices=v, local_threshold=thresh).collect()
        }
        assert got == exp, (thresh, edges, got)


def test_cc_chain(spark):
    _run(spark, [("a", "b"), ("b", "c"), ("c", "d")], {"a", "b", "c", "d"})


def test_cc_star(spark):
    _run(spark, [("m", x) for x in "abcdef"], set("abcdefm"))


def test_cc_two_components_and_isolated(spark):
    _run(
        spark,
        [("a", "b"), ("c", "d"), ("d", "e")],
        {"a", "b", "c", "d", "e", "z"},
    )


def test_cc_long_chain_log_rounds(spark):
    vs = [f"n{i:03d}" for i in range(40)]
    edges = list(zip(vs, vs[1:]))
    _run(spark, edges, set(vs))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_random_graphs(spark, seed):
    rng = random.Random(seed)
    vs = [f"v{i:02d}" for i in range(30)]
    edges = [
        (rng.choice(vs), rng.choice(vs))
        for _ in range(25)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _run(spark, edges, set(vs))


def test_cc_small_edges_huge_vertices_no_driver_collect(spark):
    """Round-5 gate (VERDICT r4 #7): small edge set + corpus-sized vertices
    must NOT collect the vertices — edge components resolve locally, isolated
    vertices attach distributively. Pinned two ways: the result plan still
    contains the distributed Range scan (a full driver collect would reduce
    it to a LocalTableScan/parallelize), and the assignment is correct on a
    sampled slice + exact in count."""
    from pyspark.sql import functions as F

    n = 5_000
    edges = spark.createDataFrame(
        [("v00000", "v00001"), ("v00001", "v00002"), ("v04000", "v04001")],
        "src string, dst string",
    )
    vertices = spark.range(n).select(
        F.format_string("v%05d", F.col("id")).alias("id")
    )
    comp = connected_components(edges, vertices=vertices, local_threshold=1_000)
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan, "vertices must stay distributed (no driver collect)"
    rows = {r["id"]: r["component"] for r in comp.collect()}
    assert len(rows) == n
    assert rows["v00000"] == rows["v00001"] == rows["v00002"] == "v00000"
    assert rows["v04000"] == rows["v04001"] == "v04000"
    # isolated vertices map to themselves
    assert rows["v00042"] == "v00042" and rows["v04999"] == "v04999"


def test_cc_local_path_returns_local_relation(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    v = spark.createDataFrame([("a",), ("z",)], "id string")
    plan = connected_components(e, vertices=v)._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation", plan.toString()
