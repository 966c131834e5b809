"""Stage LINK — dictionary-gazetteer entity linking (SURVEY.md §2.3 J4, §2.9 V2).

Scoring is a pure Catalyst expression (prefer expr over UDF — SURVEY §2.9 V2):

    score = prior * (1 / (1 + levenshtein(norm_mention, surface_form)))

With exact dictionary matches levenshtein = 0 → score = prior; the fuzzy term
exists so near-miss surfaces (added by canonicalization) still rank.  Top-1
candidate per mention via ``row_number`` (W2/O3).

The gazetteer join is **broadcast** — the dictionary is small relative to the
corpus by construction; at 100 TB corpus scale the mention side never
shuffles for this join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kbgen_spark.functions.text import norm_surface


def link_verdicts(gazetteer: DataFrame) -> DataFrame:
    """Per-surface top-1 linking verdict (dictionary-sized).

    The candidate set and top-1 decision are a pure function of the surface
    form, and the link join equality pins nmention == surface_form, which
    makes ``levenshtein(nmention, surface_form) == 0`` identically — so the
    score reduces to exactly ``prior`` and the whole scoring + ranking
    problem is a function of the GAZETTEER alone (round-3 measurement:
    no per-occurrence levenshtein, no corpus-sized rank window). The fuzzy
    1/(1+levenshtein) term becomes live again only if the join ever loosens
    to a non-equality match — reintroduce per-candidate scoring then."""
    w = Window.partitionBy("surface_form").orderBy(
        F.desc("prior"), F.asc("entity_id")
    )
    return (
        gazetteer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "surface_form",
            "entity_id",
            "entity_type",
            (F.col("prior") * F.lit(1.0)).alias("score"),
        )
    )


def _pre_normalized_safe(gazetteer: DataFrame) -> bool:
    """The pre_normalized fast path is only bit-equal to the normalized
    probe when every gazetteer surface form is a norm_surface FIXED POINT
    (otherwise the two paths probe different keys). That holds for the
    fixture gazetteer (test-pinned) but NOT necessarily for caller-supplied
    ones, so callers requesting pre_normalized get a runtime check — one
    dictionary-sized job (ADVICE r4): any drifting surface demotes the call
    to the normalized probe instead of silently changing link semantics."""
    return (
        gazetteer.filter(norm_surface("surface_form") != F.col("surface_form"))
        .limit(1)
        .count()
        == 0
    )


def link_mentions(
    mentions: DataFrame, gazetteer: DataFrame, pre_normalized: bool = False
) -> DataFrame:
    """mentions × gazetteer → links(doc_id, span_idx, offset, tok_start,
    mention, entity_id, entity_type, score). Unmatched mentions are dropped
    (inner join) — the unlinked feed goes to canonicalization instead.

    Scale shape: the per-surface top-1 verdict table (link_verdicts,
    dictionary-sized) is computed once and broadcast; the corpus-sized
    mention stream does normalize + ONE broadcast hash probe per row.

    ``pre_normalized=True`` skips the normalize: both extract paths emit
    ``mention`` via EXACT equality against gazetteer surface forms
    (the Catalyst paths' InSet/join keys; detect_mentions_py's set membership),
    so for pipeline-fed mentions the probe key is the mention itself and
    the regexp/lower/trim pass over the corpus-sized stream is pure
    allocation cost (measured round 4 — the VM's allocation-heavy-JVM
    ceiling makes it a scaling term, BENCH/BASELINE.md). A test pins that
    the fixture gazetteer's surfaces are norm_surface fixed points, and a
    runtime guard (_pre_normalized_safe, one dictionary-sized job) demotes
    the request to the normalized probe for gazetteers where they aren't."""
    if pre_normalized and not _pre_normalized_safe(gazetteer):
        pre_normalized = False
    verdict = link_verdicts(gazetteer)
    probe = (
        mentions
        if pre_normalized
        else mentions.withColumn("nmention", norm_surface("mention"))
    )
    key = F.col("mention") if pre_normalized else F.col("nmention")
    return (
        probe.join(F.broadcast(verdict), key == F.col("surface_form"), "inner")
        .select(
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
    )


def link_and_canonicalize(
    mentions: DataFrame,
    gazetteer: DataFrame,
    canon_map: DataFrame,
    pre_normalized: bool = False,
    pre_normalized_checked: bool = False,
) -> DataFrame:
    """Fused link + canonical re-key: compose the (dictionary-sized) link
    verdict with the (dictionary-sized) canon map ON THE BROADCAST SIDE, so
    the corpus-sized mention stream does ONE hash probe total instead of
    two (link_mentions then apply_canon_map). Output is bit-equal to
    ``apply_canon_map(link_mentions(mentions, gazetteer), canon_map)``
    (pinned by tests): (doc_id, span_idx, tok_start, entity_c, type_c).

    Same pre_normalized runtime guard as link_mentions: a gazetteer whose
    surfaces aren't norm_surface fixed points demotes to the normalized
    probe (one dictionary-sized check job). ``pre_normalized_checked=True``
    (round 6) asserts the caller ALREADY ran that exact fixed-point check —
    run_pipeline evaluates the same ``norm_surface(sf) == sf`` Catalyst
    expression inside its one fused gazetteer collect — so the guard job is
    skipped, not weakened (never pass it for a gazetteer that wasn't
    checked)."""
    if (
        pre_normalized
        and not pre_normalized_checked
        and not _pre_normalized_safe(gazetteer)
    ):
        pre_normalized = False
    # canon_map is dictionary-sized by contract — broadcast it explicitly
    # so the verdict-composition join on the BUILD side never plans as a
    # sort-merge (round 6: the initial plan showed SMJ with two exchanges +
    # sorts for a 56 × 51-row join; pure per-rep stage latency).
    verdict = link_verdicts(gazetteer).join(
        F.broadcast(canon_map), "entity_id", "left"
    ).select(
        "surface_form",
        F.coalesce("canon_id", "entity_id").alias("entity_c"),
        F.coalesce("canon_type", "entity_type").alias("type_c"),
    )
    probe = (
        mentions
        if pre_normalized
        else mentions.withColumn("nmention", norm_surface("mention"))
    )
    key = F.col("mention") if pre_normalized else F.col("nmention")
    return probe.join(
        F.broadcast(verdict), key == F.col("surface_form"), "inner"
    ).select("doc_id", "span_idx", "tok_start", "entity_c", "type_c")
