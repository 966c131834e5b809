"""Stage MATERIALIZE — triple assembly (SURVEY.md §3.2, FIXTURES.md §3).

Inputs:
- ``links``            (doc_id, span_idx, tok_start, entity_id, entity_type, ...)
- ``canon_map``        (entity_id → canon_id, canon_type) from G1/G2
- ``relation_patterns`` (pred, subj_type, obj_type, scope, max_gap, ordered)

Semantics (mirrored by the pure-pandas golden oracle in tests/golden_gen.py):
- scope='doc' : for each doc, every ordered pair (s, o) of *distinct* canon
  entities with s.type = subj_type, o.type = obj_type, s != o.
- scope='span': pairs within the same (doc_id, span_idx) with
  |tok_start_s − tok_start_o| ≤ max_gap; when ``ordered`` additionally
  tok_start_s < tok_start_o.
- output is the distinct set of (subj, pred, obj).

Scale notes: patterns are broadcast (tiny). The doc-scope self-join shuffles
on doc_id only; the hot predicate (P_co_occurs fires on most pairs → skew on
``pred``) is handled downstream with salted aggregation (plans/skew.py K1) —
the join itself is keyed on doc_id, which is uniform, NOT on pred.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_canon_map(links: DataFrame, canon_map: DataFrame) -> DataFrame:
    """G3 — re-key entity ids to canonical ids. canon_map is a dictionary
    table (≤ #surface forms) → broadcast join, no shuffle of the link side."""
    return links.join(F.broadcast(canon_map), "entity_id", "left").select(
        "doc_id",
        "span_idx",
        "tok_start",
        F.coalesce("canon_id", "entity_id").alias("entity_c"),
        F.coalesce("canon_type", "entity_type").alias("type_c"),
    )


def assemble_triples(
    canon_links: DataFrame,
    patterns: DataFrame,
    pair_partitions: int | None = None,
    max_ents_per_doc: int | None = None,
) -> DataFrame:
    """canon links × patterns → distinct (subj, pred, obj).

    Parallelism note (measured, BENCH/BASELINE.md round 2): the per-doc pair
    joins EXPAND their input (up to |ents/doc|² output rows per input row),
    but their *input* is small in bytes — so AQE's partition coalescing,
    which only sees map-output bytes, squeezes the join down to a handful of
    tasks and the heaviest stage of the pipeline stops scaling with cores.
    The explicit ``repartition(pair_partitions, join key)`` pins the
    expansion's parallelism (user repartitions are exempt from AQE
    coalescing). The branches feed ONE final union-distinct (round 6): its
    partial aggregation runs INSIDE each branch's join stage (union is not a
    shuffle boundary), so the single exchange already carries only
    near-output-sized data — the per-branch ``distinct`` each branch used to
    carry added an extra exchange + final aggregate per branch for the same
    map-side reduction (guide §2.4; measured 1.60 s → 1.38 s for the stage
    at ×4/local[32], output identical).

    ``max_ents_per_doc`` (opt-in; PLANS.md "known plan debts"): the doc-scope
    pair join is quadratic in distinct entities per doc BY SEMANTICS — fine
    while gazetteers bound it (the fixture corpus peaks at ~30), fatal if a
    pathological doc matches 10⁵ surface forms (10¹⁰ pairs from one doc, one
    straggler task). When set, one cheap aggregation over the already-distinct
    entity list (same doc_id shuffle key the join needs anyway) fails fast
    with the offending doc ids instead of letting the expansion run; a 100 TB
    deployment enables it on corpus-validation runs. None (default) adds no
    job."""
    if max_ents_per_doc is not None:
        hot = (
            canon_links.select("doc_id", "entity_c", "type_c")
            .distinct()
            .groupBy("doc_id")
            .count()
            .filter(F.col("count") > max_ents_per_doc)
            .orderBy(F.desc("count"))
            .limit(5)
            .collect()
        )
        if hot:
            worst = [(r["doc_id"], r["count"]) for r in hot]
            raise ValueError(
                "assemble_triples: doc-scope pair join is quadratic in "
                f"entities/doc; docs exceed max_ents_per_doc={max_ents_per_doc}: "
                f"{worst} (top 5 shown)"
            )
    n_part = pair_partitions or int(
        canon_links.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    doc_pat = patterns.filter(F.col("scope") == "doc")
    span_pat = patterns.filter(F.col("scope") == "span")

    # ---- doc scope: distinct entities per doc, typed pair join on doc_id.
    # PARTITIONING PIN (round-3 correction of the round-2 pin): the planner
    # extracts (doc_id, obj_type)=(doc_id, type_c) as the equi-join keys —
    # the type-match condition is an equality THROUGH the broadcast pattern
    # join — and with requireAllClusterKeysForCoPartition (default) a
    # repartition on doc_id alone does NOT satisfy the join's distribution,
    # so Spark inserted its own ENSURE_REQUIREMENTS exchange on
    # (doc_id, type) right after the pin... which AQE then coalesced by its
    # tiny input BYTES, starving the row-EXPANDING join down to 1-2 tasks
    # again (measured: 95 s flat at 2 AND 8 cores, 320k docs). Pinning both
    # sides on the FULL equi-key list (same order) leaves no exchange for
    # AQE to touch: the join runs at exactly n_part tasks (re-measured:
    # scales with cores again).
    ents = canon_links.select("doc_id", "entity_c", "type_c").distinct()
    s = (
        ents.alias("s")
        .join(
            F.broadcast(doc_pat).alias("p"),
            F.col("s.type_c") == F.col("p.subj_type"),
        )
        .repartition(n_part, F.col("s.doc_id"), F.col("p.obj_type"))
    )
    # SHUFFLE_HASH on the o-side (round 6, guide §3.1): the planner picked
    # sort-merge, paying a full sort of BOTH pinned sides before the
    # expanding join; a shuffled-hash build skips the sorts. The build side
    # is safe by construction — per-partition state is (rows / n_part) and
    # n_part scales with data, and the max_ents_per_doc guard bounds the
    # pathological-doc case. Measured 1.70 → 1.51 s (min-of-4, ×4/local[32])
    # with a much tighter spread; output identical.
    ents_o = ents.repartition(n_part, "doc_id", "type_c").hint("SHUFFLE_HASH")
    doc_triples = (
        s.join(
            ents_o.alias("o"),
            (F.col("s.doc_id") == F.col("o.doc_id"))
            & (F.col("p.obj_type") == F.col("o.type_c"))
            & (F.col("s.entity_c") != F.col("o.entity_c")),
        )
        .select(
            F.col("s.entity_c").alias("subj"),
            F.col("p.pred").alias("pred"),
            F.col("o.entity_c").alias("obj"),
        )
    )

    # ---- span scope: pair mentions within a span, gap + order constraints
    # (same full-equi-key pin: keys are doc_id, span_idx, obj_type/type_c)
    m = canon_links.select("doc_id", "span_idx", "tok_start", "entity_c", "type_c")
    ms = (
        m.alias("s")
        .join(
            F.broadcast(span_pat).alias("p"),
            F.col("s.type_c") == F.col("p.subj_type"),
        )
        .repartition(
            n_part, F.col("s.doc_id"), F.col("s.span_idx"), F.col("p.obj_type")
        )
    )
    m_o = m.repartition(n_part, "doc_id", "span_idx", "type_c").hint(
        "SHUFFLE_HASH"
    )
    span_triples = (
        ms.join(
            m_o.alias("o"),
            (F.col("s.doc_id") == F.col("o.doc_id"))
            & (F.col("s.span_idx") == F.col("o.span_idx"))
            & (F.col("o.type_c") == F.col("p.obj_type"))
            & (F.col("s.entity_c") != F.col("o.entity_c"))
            & (
                F.abs(F.col("s.tok_start") - F.col("o.tok_start"))
                <= F.col("p.max_gap")
            )
            & (
                (~F.col("p.ordered"))
                | (F.col("s.tok_start") < F.col("o.tok_start"))
            ),
        )
        .select(
            F.col("s.entity_c").alias("subj"),
            F.col("p.pred").alias("pred"),
            F.col("o.entity_c").alias("obj"),
        )
    )

    return doc_triples.unionByName(span_triples).distinct()


RDF_TYPE = "rdf:type"


def split_type_assertions(
    triples: DataFrame, type_pred: str = RDF_TYPE
) -> tuple[DataFrame, DataFrame]:
    """P3 — separate ``rdf:type`` assertions from relation triples [P §3.1;
    SURVEY §2.2 P3]. One predicate filter each — both land on the same scan
    (Catalyst pushes the disjoint predicates down), no shuffle."""
    type_triples = triples.filter(F.col("pred") == type_pred)
    rel_triples = triples.filter(F.col("pred") != type_pred)
    return type_triples, rel_triples


def write_triples(triples: DataFrame, path: str, pred_buckets: int = 16) -> None:
    """S5 — partitioned triples sink: parquet partitioned by a derived
    pred_bucket (xxhash64 of pred, subj) so hot predicates split across
    files (SURVEY §7.3)."""
    out = triples.withColumn(
        "pred_bucket", F.pmod(F.xxhash64("pred", "subj"), F.lit(pred_buckets))
    )
    out.write.mode("overwrite").partitionBy("pred_bucket").parquet(path)


def triples_to_ntriples(triples: DataFrame, base_uri: str = "http://kb/") -> DataFrame:
    """NT text sink shape [R generate_model.py-style emit, SURVEY §2.1 S5]:
    one string column; write with ``df.write.text``."""
    mk = lambda c: F.concat(F.lit("<" + base_uri), F.col(c), F.lit(">"))
    return triples.select(
        F.concat_ws(" ", mk("subj"), mk("pred"), mk("obj"), F.lit(".")).alias("nt")
    )
