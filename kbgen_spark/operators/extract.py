"""Stage EXTRACT — batched mention detection (SURVEY.md §2.9 V1, §3.2).

The reference has no extraction stage (kbgen consumes RDF directly); the
north_star mandates vectorized (never per-row) Python where Python is needed
at all (BASELINE.json:6,15).  Two Catalyst formulations and one Python
seam, bit-identical on exact matching (each pinned by tests against the
pure-python reference ``detect_mentions_py``):

- **literal (pure Catalyst)** — for gazetteers with at most
  EXTRACT_LITERAL_MAX_SURFACES distinct surfaces, the whole gazetteer rides
  into the plan as InSet literals and the greedy cursor fold runs
  array-side per span: one narrow projection, no join, no shuffle
  (extract_mentions_sql_literal).
- **sparse (pure Catalyst)** — above that cap: anchored broadcast candidate
  joins (candidate_mentions), the greedy fold over the sparse multi-token
  candidates only, and a coverage anti-join for the dense unigram matches
  (extract_mentions_sql_sparse). Surfaces of ANY token count are matched —
  k = max tokens per surface is derived from the gazetteer.
- **fuzzy seam: Iterator[pd.Series] pandas UDF** — the gazetteer trie (a
  dict keyed by first token) is built once per Python worker per
  batch-iterator, amortized across all Arrow batches. Kept behind
  ``use_udf=True`` for matching semantics Catalyst can't express (edit-
  distance tries, context models).

The literal/sparse choice is made in ONE place (_resolve_extract), from the
surfaces of the gazetteer's one driver read (io.dictionary_rows);
extract_mentions and make_extract_fn both call it.

Semantics (mirrored by tests/golden_gen.py and the kg_mentions_* DuckDB
oracles): greedy longest-match scan over whitespace tokens; phrases up to
the gazetteer's own max token count; on a match the scan advances past the
matched tokens.

Output: ``mentions(doc_id, span_idx, offset, tok_start, mention)``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kbgen_spark.io import dictionary_rows

MENTION_ARRAY_T = "array<struct<mention:string,tok_start:int>>"
MENTIONS_ACC_T = MENTION_ARRAY_T

def detect_mentions_py(
    text: str, surface_forms: set[str], by_first: dict, max_phrase: int | None = None
) -> list:
    """Pure-python reference semantics for one span text (shared with the
    golden oracle in tests/golden_gen.py — keep in sync).

    ``max_phrase`` (max tokens per candidate phrase) is derived from the
    surface set when not supplied — callers in hot loops (the pandas UDF)
    derive it once and pass it in."""
    if max_phrase is None:
        max_phrase = max((s.count(" ") + 1 for s in surface_forms), default=1)
    toks = text.split(" ") if text else []
    out = []
    i = 0
    n = len(toks)
    while i < n:
        matched = 0
        cands = by_first.get(toks[i])
        if cands:
            for plen in range(min(max_phrase, n - i), 0, -1):
                cand = " ".join(toks[i : i + plen])
                if cand in surface_forms:
                    out.append((cand, i))
                    matched = plen
                    break
        i += matched if matched else 1
    return out


# Driver-side cap on gazetteer size: the surface-form list is collect()ed
# and broadcast, so it must stay dictionary-sized (the corpus never is).
GAZETTEER_MAX_SURFACES = 5_000_000


def make_mention_udf(surface_forms):
    """Build the Iterator pandas UDF over the gazetteer surface-form set.

    ``surface_forms`` is either a ``sc.broadcast`` handle (preferred: one
    torrent transfer per executor, not one pickle per task) or a plain list
    (tests). The lookup dicts are built once per task from the broadcast
    value and reused across all Arrow batches of that task."""
    is_bc = hasattr(surface_forms, "value")

    @pandas_udf(MENTION_ARRAY_T)
    def mention_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # dicts built once per task, from the executor-local broadcast block.
        forms = surface_forms.value if is_bc else surface_forms
        sf_set = set(forms)
        max_phrase = max((s.count(" ") + 1 for s in sf_set), default=1)
        by_first = {}
        for s in sf_set:
            by_first.setdefault(s.split(" ")[0], []).append(s)
        for batch in it:
            yield batch.map(
                lambda t: detect_mentions_py(t, sf_set, by_first, max_phrase)
            )

    return mention_udf


def explode_text_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) → one row per text span.

    Nested-schema pruning does NOT fire through a plain
    ``posexplode(spans)`` (verified on Spark 4.1: the scan read media_ref),
    so the needed fields are extracted as parallel arrays FIRST
    (``GetArrayStructFields`` prunes) and re-zipped — the parquet scan reads
    only ``{kind, text, offset}``. At 100 TB with fat media refs this is the
    difference between scanning text bytes and scanning the whole table.
    """
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    F.col("spans.kind").alias("kind"),
                    F.col("spans.text").alias("text"),
                    F.col("spans.offset").alias("offset"),
                )
            ).alias("span_idx", "span"),
        )
        .filter(F.col("span.kind") == "text")
        .select(
            "doc_id",
            "span_idx",
            F.col("span.offset").alias("offset"),
            F.col("span.text").alias("span_text"),
        )
    )


def max_surface_tokens(gazetteer: DataFrame) -> int:
    """k = max token count over the gazetteer's surface forms — ONE tiny
    aggregation on the dictionary-sized table (the same cheap-cardinality
    gate pattern as the canon/CC local thresholds). Every candidate-join
    plan is bounded by this k, so it is derived, never assumed (rounds 2–4
    hardcoded 2 and silently dropped longer surfaces)."""
    row = (
        gazetteer.select(F.size(F.split("surface_form", " ")).alias("n"))
        .agg(F.max("n"))
        .first()
    )
    return int(row[0]) if row and row[0] is not None else 1


def _split_gazetteer(gazetteer: DataFrame):
    """Gazetteer split for candidate generation (candidate_mentions):

    - g1     (_sf1)        : single-token surfaces;
    - gm     (_sfm, _len)  : multi-token surfaces with their token count;
    - gfirst (_f, _fmax)   : first token of each multi-token surface with the
      max token count among surfaces starting with it — the ANCHOR filter
      (phrases are only assembled at positions whose token starts some
      multi-token surface, with per-anchor length bound _fmax)."""
    surfaces = gazetteer.select("surface_form").distinct()
    g1 = surfaces.filter(~F.col("surface_form").contains(" ")).withColumnRenamed(
        "surface_form", "_sf1"
    )
    gm = surfaces.filter(F.col("surface_form").contains(" ")).select(
        F.col("surface_form").alias("_sfm"),
        F.size(F.split("surface_form", " ")).alias("_len"),
    )
    gfirst = gm.groupBy(F.split("_sfm", " ").getItem(0).alias("_f")).agg(
        F.max("_len").alias("_fmax")
    )
    return g1, gm, gfirst


def _token_stream(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, span_idx, offset, pos, tok[, nxt]) — one row per token; for
    k ≥ 2 each row carries the next k−1 tokens (``nxt``), the only per-row
    state phrase construction needs (no per-row copy of the whole span
    array). For k = 1 the stream is lean (pos, tok) only."""
    ts = explode_text_spans(docs).withColumn("_t", F.split("span_text", " "))
    if k <= 1:
        return ts.select(
            "doc_id", "span_idx", "offset", F.posexplode("_t").alias("pos", "tok")
        )
    return ts.select(
        "doc_id",
        "span_idx",
        "offset",
        F.explode(
            F.transform(
                "_t",
                lambda x, i: F.struct(
                    i.cast("int").alias("pos"),
                    x.alias("tok"),
                    F.slice(F.col("_t"), i + 2, k - 1).alias("nxt"),
                ),
            )
        ).alias("tc"),
    ).select(
        "doc_id",
        "span_idx",
        "offset",
        F.col("tc.pos").alias("pos"),
        F.col("tc.tok").alias("tok"),
        F.col("tc.nxt").alias("nxt"),
    )


# candidate_mentions fast path: when the multi-token surfaces have at most
# this many DISTINCT FIRST TOKENS, the anchor→max-length map is inlined as a
# plan literal (create_map) and phrase structs are built array-side ONLY at
# anchor positions — no per-token successor arrays ever materialize. Same
# dictionary-size-gated driver-collect family as the local canon path.
# Conservative cap: a create_map literal this size stays well inside codegen
# method limits; larger gazetteers take the nxt-carry broadcast-join path.
# Read at call time, so a test can set it to 0 to force the join path.
ANCHOR_LITERAL_MAX = 512

_CAND_STRUCT_T = "array<struct<pos:int,nl:int,mention:string>>"


def _sparse_plan(gazetteer: DataFrame, k: int | None = None) -> tuple:
    """The sparse formulation's dictionary-sized decisions, ``(k, anchor
    rows)``: k derives with ``max_surface_tokens`` unless given, and the
    anchor rows (first token → max surface length) are ``None`` when the
    broadcast anchor join applies. At most two small jobs, run at plan
    build unless the caller passes the result (_resolve_extract does)."""
    if k is None:
        k = max_surface_tokens(gazetteer)
    if k >= 2 and ANCHOR_LITERAL_MAX:
        gfirst = _split_gazetteer(gazetteer)[2]
        arows = gfirst.limit(ANCHOR_LITERAL_MAX + 1).collect()
        if len(arows) <= ANCHOR_LITERAL_MAX:
            return k, arows
    return k, None


def candidate_mentions(
    docs: DataFrame,
    gazetteer: DataFrame,
    plan: tuple | None = None,
) -> DataFrame:
    """Every position where a gazetteer surface matches:
    ``(doc_id, span_idx, offset, pos, nl, mention)`` with nl = −token_count
    (``sort_array`` then puts longer candidates first at equal pos). The
    candidate generation behind the sparse formulation.

    Scale shape: the corpus-sized token stream stays in its scan partitions;
    phrase strings are assembled only at ANCHOR positions (first tokens of
    multi-token surfaces), bounded per anchor by that token's max surface
    length. Two anchor mechanisms, measured round 5 (BENCH/BASELINE.md,
    @8 pinned ×64, min-of-3): with few distinct anchor first-tokens the
    anchor→fmax map inlines as a PLAN LITERAL and phrases build array-side
    (no join, no per-token state; 24.0 s); above the cap each token row
    carries its next k−1 tokens through a broadcast anchor join (37.7 s —
    still beats flat per-length gram generation at every position, 43.0 s,
    which was also tried and rejected). ``plan``: see _sparse_plan."""
    g1, gm, gfirst = _split_gazetteer(gazetteer)
    k, arows = plan or _sparse_plan(gazetteer)
    if arows is not None:
        return _candidate_mentions_literal(docs, g1, gm, arows)
    tok = _token_stream(docs, k)
    uni = tok.join(F.broadcast(g1), tok["tok"] == F.col("_sf1")).select(
        "doc_id",
        "span_idx",
        "offset",
        "pos",
        F.lit(-1).alias("nl"),
        F.col("tok").alias("mention"),
    )
    if k <= 1:
        return uni
    anch = tok.join(F.broadcast(gfirst), tok["tok"] == F.col("_f"))
    phrases = (
        anch.select(
            "doc_id",
            "span_idx",
            "offset",
            "pos",
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.col("_fmax")),
                    # a phrase of L tokens needs L−1 successors; positions too
                    # close to the span end yield null, filtered below (never
                    # a silently truncated phrase that could match a shorter
                    # surface under the wrong nl).
                    lambda L: F.when(
                        L - 1 <= F.size("nxt"),
                        F.struct(
                            (-L).cast("int").alias("nl"),
                            F.concat_ws(
                                " ", F.col("tok"), F.slice("nxt", F.lit(1), L - 1)
                            ).alias("mention"),
                        ),
                    ),
                )
            ).alias("pc"),
        )
        .filter(F.col("pc").isNotNull())
        .select(
            "doc_id",
            "span_idx",
            "offset",
            "pos",
            F.col("pc.nl").alias("nl"),
            F.col("pc.mention").alias("mention"),
        )
    )
    multi = phrases.join(F.broadcast(gm), F.col("mention") == F.col("_sfm")).select(
        "doc_id", "span_idx", "offset", "pos", "nl", "mention"
    )
    return uni.unionByName(multi)


def _candidate_mentions_literal(
    docs: DataFrame, g1: DataFrame, gm: DataFrame, anchor_rows: list
) -> DataFrame:
    """Anchor-literal candidate generation (see candidate_mentions): the
    (first_token → max surface length) map is a create_map PLAN LITERAL, so
    phrase structs are built array-side only where the map probes non-null —
    non-anchor positions cost one map probe, no successor arrays, no anchor
    join. Phrases are length-bounded by least(fmax, tokens remaining); the
    guard keeps sequence() ascending (sequence(2, 1) would DESCEND, not be
    empty). Unigram candidates stay a lean broadcast hash join."""
    fmax_map = F.create_map(
        *[F.lit(v) for r in anchor_rows for v in (r["_f"], r["_fmax"])]
    )
    tok = _token_stream(docs, 1)
    uni = tok.join(F.broadcast(g1), tok["tok"] == F.col("_sf1")).select(
        "doc_id",
        "span_idx",
        "offset",
        "pos",
        F.lit(-1).alias("nl"),
        F.col("tok").alias("mention"),
    )
    ts = explode_text_spans(docs).withColumn("_t", F.split("span_text", " "))
    phrases = (
        ts.select(
            "doc_id",
            "span_idx",
            "offset",
            F.explode(
                F.flatten(
                    F.transform(
                        "_t",
                        lambda x, i: F.coalesce(
                            F.when(
                                (F.size("_t") - i >= 2)
                                & F.element_at(fmax_map, x).isNotNull(),
                                F.transform(
                                    F.sequence(
                                        F.lit(2),
                                        F.least(
                                            F.element_at(fmax_map, x),
                                            F.size("_t") - i,
                                        ),
                                    ),
                                    lambda L: F.struct(
                                        i.cast("int").alias("pos"),
                                        (-L).cast("int").alias("nl"),
                                        F.array_join(
                                            F.slice(F.col("_t"), i + 1, L), " "
                                        ).alias("mention"),
                                    ),
                                ),
                            ),
                            F.expr(f"cast(array() as {_CAND_STRUCT_T})"),
                        ),
                    )
                )
            ).alias("pc"),
        )
        .select(
            "doc_id",
            "span_idx",
            "offset",
            F.col("pc.pos").alias("pos"),
            F.col("pc.nl").alias("nl"),
            F.col("pc.mention").alias("mention"),
        )
    )
    multi = phrases.join(F.broadcast(gm), F.col("mention") == F.col("_sfm")).select(
        "doc_id", "span_idx", "offset", "pos", "nl", "mention"
    )
    return uni.unionByName(multi)


def _greedy_fold_expr(cands_col):
    """The greedy cursor automaton as an ``F.aggregate`` expression over a
    (pos asc, nl asc)-sorted array of (pos, nl, mention) candidate structs —
    the LITERAL reference automaton (detect_mentions_py), inside codegen. A
    candidate is emitted iff pos ≥ cursor, moving the cursor to pos + len (a
    consumed position skips ALL its candidates; an emitted match consumes
    exactly its own tokens). Shared by the sparse formulation's regrouped
    fold (_greedy_fold_select) and the fully array-side literal extract."""
    return F.aggregate(
        cands_col,
        F.expr(f"named_struct('cur', 0, 'acc', cast(array() as {MENTIONS_ACC_T}))"),
        lambda st, c: F.when(
            c["pos"] >= st["cur"],
            F.struct(
                (c["pos"] - c["nl"]).alias("cur"),
                F.concat(
                    st["acc"],
                    F.array(
                        F.struct(
                            c["mention"].alias("mention"),
                            c["pos"].alias("tok_start"),
                        )
                    ),
                ).alias("acc"),
            ),
        ).otherwise(st),
        lambda st: st["acc"],
    )


def _greedy_fold_select(cands: DataFrame) -> DataFrame:
    """Replay the greedy longest-match scan over a candidate table
    ``(doc_id, span_idx, offset, pos, nl, mention)``: regroup per span
    (sorted (pos asc, len desc) — nl = −len makes sort_array do it) and run
    the cursor fold (_greedy_fold_expr)."""
    grouped = cands.groupBy("doc_id", "span_idx", "offset").agg(
        F.sort_array(F.collect_list(F.struct("pos", "nl", "mention"))).alias("c")
    )
    sel = _greedy_fold_expr(F.col("c"))
    return (
        grouped.select("doc_id", "span_idx", "offset", F.explode(sel).alias("m"))
        .select(
            "doc_id",
            "span_idx",
            "offset",
            F.col("m.mention").alias("mention"),
            F.col("m.tok_start").alias("tok_start"),
        )
    )


# Whole-gazetteer literal extract: at most this many DISTINCT surface forms
# may be inlined into the plan (isin → InSet hash probes; per-length
# surface sets and first-token anchor sets). Kept well under codegen method
# limits; bigger dictionaries take the broadcast-join candidate paths.
EXTRACT_LITERAL_MAX_SURFACES = 1024


def _dictionary_surfaces(gazetteer: DataFrame) -> list | None:
    """Sorted distinct surfaces of ``io.dictionary_rows`` (None over cap)."""
    rows = dictionary_rows(gazetteer)
    return None if rows is None else sorted({r["surface_form"] for r in rows})


def extract_mentions_sql_literal(docs: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Fully ARRAY-SIDE greedy mention detection for dictionary-small
    gazetteers — the whole gazetteer rides into the plan as literal InSet
    probes, so extract is ONE narrow projection: tokenize → per-position
    candidate structs (multi-token grams built only at positions whose
    token anchors some L-token surface, longest L first) → the same greedy
    cursor fold (_greedy_fold_expr) over the in-order candidate array →
    explode. NO join, NO shuffle, NO regroup anywhere in the stage — the
    plan is a single whole-stage-codegen span over the scan, which is the
    one shape the 100 TB regime (and this VM's allocation-hostile 8-thread
    profile) scales perfectly.

    Same size-adaptive family as the driver-local canon path: the surfaces
    come from the gazetteer's one driver read (io.dictionary_rows), and the
    literal set is capped (EXTRACT_LITERAL_MAX_SURFACES); above the cap
    _resolve_extract picks the sparse broadcast-join formulation. Bit-equal
    to sparse / UDF (test-pinned)."""
    surfaces = _dictionary_surfaces(gazetteer)
    if surfaces is None or len(surfaces) > EXTRACT_LITERAL_MAX_SURFACES:
        raise ValueError(
            "extract_mentions_sql_literal: gazetteer surfaces exceed "
            f"{EXTRACT_LITERAL_MAX_SURFACES} — use extract_mentions_sql_sparse"
        )
    if not surfaces:
        ts0 = explode_text_spans(docs)
        return ts0.select(
            "doc_id",
            "span_idx",
            "offset",
            F.lit(None).cast("string").alias("mention"),
            F.lit(None).cast("int").alias("tok_start"),
        ).filter(F.lit(False))
    by_len: dict[int, set] = {}
    for s in surfaces:
        by_len.setdefault(s.count(" ") + 1, set()).add(s)
    uni = sorted(by_len.get(1, ()))
    multis = {L: sorted(by_len[L]) for L in by_len if L >= 2}
    firsts = {L: sorted({s.split(" ")[0] for s in multis[L]}) for L in multis}

    ts = explode_text_spans(docs).withColumn("_t", F.split("span_text", " "))

    # The per-position candidate expression is generated as ONE
    # server-parsed SQL string (round 6): the former per-node DataFrame-API
    # construction (an isin per surface class, struct/when/slice per
    # length) cost ~0.3 s of Py4J round trips EVERY time the plan is
    # rebuilt — a per-rep tax in the bench loop and a per-batch tax in
    # streaming. The string reproduces the identical expression tree:
    # candidates at position i, longest L first (nl ascending), unigrams
    # last — already the (pos asc, nl asc) order the fold consumes, so no
    # sort is ever needed; gram strings are built only when the position's
    # token anchors some L-token surface AND L tokens remain. Literals are
    # backslash-escaped; bit-equality to the sparse/UDF paths is test-pinned
    # and the kg_mentions_literal oracle replays the output cross-engine.
    def _sq(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    def _inlist(vals) -> str:
        return "(" + ", ".join(_sq(v) for v in vals) + ")"

    entries = []
    for L in sorted(multis, reverse=True):
        gram = f"array_join(slice(_t, i + 1, {L}), ' ')"
        entries.append(
            f"case when x in {_inlist(firsts[L])}"
            f" and (size(_t) - i) >= {L}"
            f" and {gram} in {_inlist(multis[L])}"
            f" then named_struct('pos', cast(i as int),"
            f" 'nl', cast({-L} as int), 'mention', {gram}) end"
        )
    if uni:
        entries.append(
            f"case when x in {_inlist(uni)}"
            " then named_struct('pos', cast(i as int),"
            " 'nl', cast(-1 as int), 'mention', x) end"
        )
    cand_sql = (
        "flatten(transform(_t, (x, i) -> filter(array("
        + ", ".join(entries)
        + "), e -> e is not null)))"
    )
    sel = _greedy_fold_expr(F.expr(cand_sql))
    return (
        ts.select("doc_id", "span_idx", "offset", F.explode(sel).alias("m"))
        .select(
            "doc_id",
            "span_idx",
            "offset",
            F.col("m.mention").alias("mention"),
            F.col("m.tok_start").alias("tok_start"),
        )
    )


def extract_mentions_sql_sparse(
    docs: DataFrame, gazetteer: DataFrame, plan: tuple | None = None
) -> DataFrame:
    """Sparse decomposition of the greedy scan — bit-equal to the literal
    plan and detect_mentions_py for ANY k (test-pinned; same decomposition
    the kg_mentions_kgram DuckDB oracle replays), with the fold applied
    ONLY to multi-token candidates:

    1. a unigram match advances the cursor by exactly one position — it can
       never block a later candidate — so the cursor state at any
       multi-token candidate depends only on previously FIRED multi-token
       matches: the greedy fold runs over multi candidates alone;
    2. per position only the LONGEST multi candidate matters (if the longest
       is cursor-blocked so is every shorter one; unblocked, longest-match
       picks it) — one min(struct(nl, mention)) aggregate;
    3. a unigram fires iff its position is not covered by a fired multi
       ([tok_start, tok_start+len) exploded → equi anti-join, never a range
       join).

    Why not fold every candidate: dictionary unigrams are DENSE (in the
    fixture corpus nearly every token matches), so a fold over all
    candidates materializes a per-span collect_list of almost every token,
    while multi-token candidates are SPARSE (phrase anchors only) — the fold
    arrays shrink by the uni:multi candidate ratio and the dense unigram
    stream goes through flat hash joins instead. ``plan``: see
    _sparse_plan."""
    plan = plan or _sparse_plan(gazetteer)
    k = plan[0]
    cands = candidate_mentions(docs, gazetteer, plan)
    uni = cands.filter(F.col("nl") == -1)
    if k <= 1:
        return uni.select(
            "doc_id", "span_idx", "offset", "mention",
            F.col("pos").alias("tok_start"),
        )
    longest = (
        cands.filter(F.col("nl") <= -2)
        .groupBy("doc_id", "span_idx", "offset", "pos")
        .agg(F.min(F.struct("nl", "mention")).alias("s"))
        .select(
            "doc_id",
            "span_idx",
            "offset",
            "pos",
            F.col("s.nl").alias("nl"),
            F.col("s.mention").alias("mention"),
        )
    )
    fired = _greedy_fold_select(longest)
    covered = fired.select(
        "doc_id",
        "span_idx",
        "offset",
        F.explode(
            F.sequence(
                F.col("tok_start"),
                F.col("tok_start") + F.size(F.split("mention", " ")) - 1,
            )
        ).alias("pos"),
    )
    uni_fired = uni.join(
        covered, ["doc_id", "span_idx", "offset", "pos"], "left_anti"
    ).select(
        "doc_id", "span_idx", "offset", "mention", F.col("pos").alias("tok_start")
    )
    return fired.unionByName(uni_fired)


def _resolve_extract(gazetteer: DataFrame):
    """The one literal-vs-sparse decision, resolved from the distinct
    surfaces of the gazetteer's one driver read (io.dictionary_rows);
    returns ``docs -> mentions``.

    The sparse plan's decisions are resolved here too, so the returned
    function builds its plan with no Spark job."""
    surfaces = _dictionary_surfaces(gazetteer)
    if surfaces is not None and len(surfaces) <= EXTRACT_LITERAL_MAX_SURFACES:
        return lambda docs: extract_mentions_sql_literal(docs, gazetteer)
    k = None if surfaces is None else max(s.count(" ") + 1 for s in surfaces)
    plan = _sparse_plan(gazetteer, k)
    return lambda docs: extract_mentions_sql_sparse(docs, gazetteer, plan)


def extract_mentions(
    docs: DataFrame, gazetteer: DataFrame, use_udf: bool = False
) -> DataFrame:
    """docs × gazetteer → mentions(doc_id, span_idx, offset, mention,
    tok_start).

    The Catalyst formulation follows the gazetteer's distinct-surface count
    (_resolve_extract): the whole-gazetteer-literal plan (zero join/shuffle)
    at ≤ EXTRACT_LITERAL_MAX_SURFACES, the sparse greedy decomposition
    above. Both are bit-equal, so the choice is a plan decision, never a
    semantics one. The gazetteer's driver read is kept on its DataFrame
    (io.dictionary_rows), so only the first call on a gazetteer runs a job
    for the literal decision. Callers in per-batch loops hoist the whole
    decision with ``make_extract_fn``.

    ``use_udf=True`` selects the Iterator-pandas-UDF trie scan: the
    distinct surfaces are collected to the driver (dictionary table ≪
    corpus; more than GAZETTEER_MAX_SURFACES fails fast) and
    ``sc.broadcast`` to executors.
    All paths are bit-identical on exact matching (pinned by tests); the
    UDF seam exists for fuzzy extensions."""
    if use_udf:
        sf = gazetteer.select("surface_form").distinct()
        surface_forms = [r[0] for r in sf.limit(GAZETTEER_MAX_SURFACES + 1).collect()]
        if len(surface_forms) > GAZETTEER_MAX_SURFACES:
            raise ValueError(
                f"gazetteer has more than {GAZETTEER_MAX_SURFACES} surface forms "
                "— the driver-collect cap; a gazetteer this large must be "
                "joined distributively, not broadcast"
            )
        bc = docs.sparkSession.sparkContext.broadcast(surface_forms)
        udf = make_mention_udf(bc)
        ts = explode_text_spans(docs)
        return (
            ts.withColumn("m", udf(F.col("span_text")))
            .select(
                "doc_id",
                "span_idx",
                "offset",
                F.explode("m").alias("mention_s"),
            )
            .select(
                "doc_id",
                "span_idx",
                "offset",
                F.col("mention_s.mention").alias("mention"),
                F.col("mention_s.tok_start").alias("tok_start"),
            )
        )
    return _resolve_extract(gazetteer)(docs)


def make_extract_fn(gazetteer: DataFrame):
    """Hoist extract_mentions' gazetteer-derived plan decisions out of a
    per-batch loop: above the literal cap extract_mentions resolves the
    sparse plan's decisions (Spark jobs) on every call, which inside
    ``foreachBatch`` (incremental_kg_ingest) would re-run per micro-batch.
    Returns ``docs -> mentions`` building the same plan with no Spark job."""
    return _resolve_extract(gazetteer)
