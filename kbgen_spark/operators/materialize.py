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

Partitioning contract: the pair joins read ``partition_by_doc``'s layout
(hash on ``doc_id`` into ``spark.sql.shuffle.partitions`` parts) and add no
exchange of their own. ``run_pipeline`` persists its links in that layout,
so ``assemble_triples``' own ``partition_by_doc`` is planned away; any
other input (a parquet read-back, a streaming micro-batch) pays that one
repartition, which AQE never coalesces, so the row-expanding joins keep
that many tasks instead of the few their small input bytes suggest. A
``doc_id``-only layout satisfies the joins' ``(doc_id, ...)`` keys only
with ``spark.sql.requireAllClusterKeysForCoPartition=false``
(``session.PIPELINE_CONF``).

Scale notes: patterns are broadcast (tiny), as one relation both scopes
join with their own ``scope`` condition. The pair joins are keyed on
doc_id (plus span_idx and type), which is uniform, NOT on pred, so the hot
predicate (P_co_occurs fires on most pairs) skews no join. Nothing is
salted: the final union-distinct's partial aggregation runs map-side inside
the join stage, so its one exchange carries near-output-sized data keyed
on the whole (subj, pred, obj) row, and ``write_triples`` spreads a hot
predicate over files by ``xxhash64(pred, subj)`` buckets.
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


def partition_by_doc(links: DataFrame) -> DataFrame:
    """The pair joins' layout (module docstring): ``links`` hash-partitioned
    on ``doc_id`` into ``spark.sql.shuffle.partitions`` parts."""
    n = int(links.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return links.repartition(n, "doc_id")


def assemble_triples(
    canon_links: DataFrame,
    patterns: DataFrame,
    *,
    max_ents_per_doc: int | None = None,
) -> DataFrame:
    """canon links × patterns → distinct (subj, pred, obj), over
    ``partition_by_doc(canon_links)``.

    Each scope is one broadcast join with its patterns and one
    ``SHUFFLE_HASH`` pair join on the shared layout: a build side holds
    (rows / partitions), and a shuffled-hash build skips the sorts a
    sort-merge join pays on both sides. Both scopes feed one union-distinct,
    whose partial aggregation runs inside the join stage.

    ``max_ents_per_doc`` (opt-in; PLANS.md "known plan debts"): the doc-scope
    pair join is quadratic in distinct entities per doc BY SEMANTICS — fine
    while gazetteers bound it (the fixture corpus peaks at ~30), fatal if a
    pathological doc matches 10⁵ surface forms (10¹⁰ pairs from one doc, one
    straggler task). When set, one cheap aggregation over the already-distinct
    entity list fails fast with the offending doc ids instead of letting the
    expansion run; a 100 TB deployment enables it on corpus-validation runs.
    None (default) adds no job."""
    canon_links = partition_by_doc(canon_links)
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
    # One broadcast pattern relation; each branch names its scope in its
    # join condition. Conditions are SQL strings: built from Column objects,
    # the same plan took 839 Py4J round trips per build instead of 105.
    p = F.broadcast(patterns).alias("p")
    out = ("s.entity_c AS subj", "p.pred AS pred", "o.entity_c AS obj")

    # ---- doc scope: distinct entities per doc, typed pair join on doc_id.
    ents = canon_links.select("doc_id", "entity_c", "type_c").distinct()
    doc_triples = (
        ents.alias("s")
        .join(p, F.expr("p.scope = 'doc' AND s.type_c = p.subj_type"))
        .join(
            ents.hint("SHUFFLE_HASH").alias("o"),
            F.expr(
                "s.doc_id = o.doc_id AND p.obj_type = o.type_c"
                " AND s.entity_c != o.entity_c"
            ),
        )
        .selectExpr(*out)
    )

    # ---- span scope: pair mentions within a span, gap + order constraints
    m = canon_links.select("doc_id", "span_idx", "tok_start", "entity_c", "type_c")
    span_triples = (
        m.alias("s")
        .join(p, F.expr("p.scope = 'span' AND s.type_c = p.subj_type"))
        .join(
            m.hint("SHUFFLE_HASH").alias("o"),
            F.expr(
                "s.doc_id = o.doc_id AND s.span_idx = o.span_idx"
                " AND o.type_c = p.obj_type AND s.entity_c != o.entity_c"
                " AND abs(s.tok_start - o.tok_start) <= p.max_gap"
                " AND (NOT p.ordered OR s.tok_start < o.tok_start)"
            ),
        )
        .selectExpr(*out)
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
