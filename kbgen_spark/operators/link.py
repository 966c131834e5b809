"""Stage LINK — dictionary-gazetteer entity linking (SURVEY.md §2.3 J4, §2.9 V2).

Scoring is a pure Catalyst expression (prefer expr over UDF — SURVEY §2.9 V2):

    score = prior * (1 / (1 + levenshtein(norm_mention, surface_form)))

Candidates are the gazetteer rows whose surface form equals the normalized
mention, so levenshtein = 0 and score = prior; the fuzzy term becomes live
only if the match ever loosens to a non-equality. Top-1 candidate per
mention: prior desc, then entity_id asc (W2/O3).

Mentions come from extract, which emits only values that EXACTLY equal a
gazetteer surface form. Normalization and ranking therefore resolve once on
the dictionary side (``link_verdicts``: one verdict row per raw surface),
and the corpus-sized mention stream does one broadcast hash probe on the
raw mention — no per-row normalize, no corpus-sized rank window, and the
mention side never shuffles for this join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kbgen_spark.functions.text import norm_surface


def link_verdicts(gazetteer: DataFrame) -> DataFrame:
    """Top-1 linking verdict per raw gazetteer surface (dictionary-sized):
    (mention, surface_form, entity_id, entity_type, score).

    ``mention`` is the raw surface — the value an extracted mention equals.
    The verdict is the top-1 row among the gazetteer rows whose
    ``surface_form == norm_surface(mention)`` (prior desc, entity_id asc);
    a surface whose normal form is no gazetteer surface gets no row. The
    verdict is a function of the GAZETTEER alone, so the corpus never pays
    for normalization or ranking.

    One shuffle: the ranking window partitions by the normal form, and the
    one-row-per-surface window partitions by (normal form, surface), which
    the first window's hash partitioning already satisfies (test-pinned).
    The windows are a server-parsed SQL string: the same plan built from
    Column objects took ~45 ms more Py4J driver time per call (4 vCPU
    host)."""
    return (
        gazetteer.withColumn("norm", norm_surface("surface_form"))
        .selectExpr(
            "surface_form AS mention",
            "first(IF(surface_form = norm,"
            " struct(surface_form, entity_id, entity_type, prior), NULL))"
            " OVER (PARTITION BY norm"
            " ORDER BY surface_form = norm DESC, prior DESC, entity_id) AS top",
            "row_number() OVER (PARTITION BY norm, surface_form"
            " ORDER BY surface_form) AS rn",
        )
        .filter("top IS NOT NULL AND rn = 1")
        .selectExpr(
            "mention",
            "top.surface_form",
            "top.entity_id",
            "top.entity_type",
            "top.prior * 1.0 AS score",
        )
    )


def link_mentions(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """mentions × gazetteer → links(doc_id, span_idx, offset, tok_start,
    mention, surface_form, entity_id, entity_type, score). Unmatched mentions
    are dropped (inner join) — the unlinked feed goes to canonicalization
    instead.

    Contract: ``mentions`` is extract output, so each mention equals a
    gazetteer surface form; it probes link_verdicts on the raw value, and
    ``surface_form`` is the normalized surface the verdict came from.

    Scale shape: the verdict table is computed once and broadcast; the
    corpus-sized mention stream does ONE broadcast hash probe per row."""
    return mentions.join(F.broadcast(link_verdicts(gazetteer)), "mention").select(
        "doc_id",
        "span_idx",
        "offset",
        "tok_start",
        "mention",
        "surface_form",
        "entity_id",
        "entity_type",
        "score",
    )


def link_and_canonicalize(
    mentions: DataFrame, gazetteer: DataFrame, canon_map: DataFrame
) -> DataFrame:
    """Fused link + canonical re-key: compose the (dictionary-sized) link
    verdict with the (dictionary-sized) canon map ON THE BROADCAST SIDE, so
    the corpus-sized mention stream does ONE hash probe total instead of
    two (link_mentions then apply_canon_map). Output is bit-equal to
    ``apply_canon_map(link_mentions(mentions, gazetteer), canon_map)``
    (pinned by tests): (doc_id, span_idx, tok_start, entity_c, type_c).

    Same contract as link_mentions: ``mentions`` is extract output, so each
    mention equals a gazetteer surface form."""
    # canon_map is dictionary-sized by contract — broadcast it explicitly
    # so the verdict-composition join on the BUILD side never plans as a
    # sort-merge (round 6: the initial plan showed SMJ with two exchanges +
    # sorts for a 56 × 51-row join; pure per-rep stage latency).
    verdict = link_verdicts(gazetteer).join(
        F.broadcast(canon_map), "entity_id", "left"
    ).select(
        "mention",
        F.coalesce("canon_id", "entity_id").alias("entity_c"),
        F.coalesce("canon_type", "entity_type").alias("type_c"),
    )
    return mentions.join(F.broadcast(verdict), "mention").select(
        "doc_id", "span_idx", "tok_start", "entity_c", "type_c"
    )
