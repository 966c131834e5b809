"""End-to-end KG construction: extract → link → canonicalize → materialize
(SURVEY.md §3.2; north_rule BASELINE.json:14).

Each stage checkpoints through the snapshot store (plans/lineage.py) with
per-partition lineage counters; a rerun skips completed stages and replays
bit-identically (all randomness is hash-derived).

The documents table itself is never mutated — stages *derive* new tables
keyed by (doc_id, span_idx), so the span-sequence invariant
(kind, text, media_ref, order) holds trivially; tests assert it end-to-end.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kbgen_spark import fixtures as FX
from kbgen_spark.operators.canonicalize import similar_surface_edges
from kbgen_spark.operators.extract import extract_mentions
from kbgen_spark.operators.graph import connected_components
from kbgen_spark.operators.link import link_and_canonicalize
from kbgen_spark.operators.materialize import assemble_triples
from kbgen_spark.plans.lineage import (
    ParquetSnapshotStore,
    dataframe_fingerprint,
    path_fingerprint,
    run_stage,
)

LSH_BANDS = 16  # r = 2 rows/band: ≥99.9% recall at jaccard ≥ 0.6 (see canon docs)
LSH_K = 32
JACCARD_T = 0.5

# Below this many gazetteer rows the canon stage runs driver-local (same
# size-adaptive design as connected_components.local_threshold): the
# distributed chain is ~10 dictionary-sized shuffle stages whose cost is
# pure scheduler/AQE latency (measured 3-5 s at local[32] for a 41-component
# graph). The local path is bit-equal (test-pinned) and leaves the
# distributed path untouched for corpus-scale gazetteers.
CANON_LOCAL_THRESHOLD = 100_000

# Per-stage code/schema version tokens, folded into each stage's params hash
# (round-5, ADVICE r4): a semantic plan change with identical params must
# INVALIDATE pre-existing snapshots instead of silently resuming output
# computed by old code — bump the stage's token when its plan semantics or
# output schema change. (Rounds 3-4 changed stage plans — fused link,
# Catalyst extract — without this; safe only because the outputs were
# test-pinned bit-equal.)
STAGE_VERSIONS = {
    "extract": 3,  # r3 catalyst fold, r5 k-token generalization
    "canon": 2,  # r4 driver-local fast path
    "link": 3,  # r4 fused re-key, r5 pre_normalized runtime guard
    "materialize": 1,
}


@dataclass
class PipelineRun:
    triples: DataFrame
    stages: dict = field(default_factory=dict)
    skipped: list = field(default_factory=list)
    observation: object = None  # pyspark Observation; .get after an action

    def metrics(self) -> dict:
        """A10 counter metrics — populated once an action has run on
        ``triples`` (the observe() hooks fire with the job)."""
        return dict(self.observation.get) if self.observation is not None else {}


def _build_canon_map_local(
    spark: SparkSession, gaz_rows: list, sig_rows: list
) -> DataFrame:
    """Driver-side mirror of the distributed canon chain, bit-equal by
    construction (pinned by test_canon_local_equals_distributed):

    - band buckets group signatures by the EQUAL band slice (the xxhash64
      bucket code in lsh_candidate_pairs exists only to give the slice an
      equi-join key — equality of slices is the semantics, so no hash
      mirroring is needed);
    - candidate pairs a < b (Python str ordering == Spark UTF8String binary
      ordering: UTF-8 byte order preserves code-point order);
    - exact char-bigram Jaccard ≥ JACCARD_T (char_ngrams semantics: whole
      string when len < 2; |∩|/|∪| as IEEE double — identical division);
    - union-find with min-root == connected_components' min-member contract;
    - canon per component / per entity via min (id, type) tuples == Spark's
      min(struct(...)) lexicographic field ordering.
    """
    r = LSH_K // LSH_BANDS
    buckets: dict = {}
    for row in sig_rows:
        sf, sig = row["surface_form"], row["sig"]
        for b in range(LSH_BANDS):
            buckets.setdefault((b, tuple(sig[b * r : (b + 1) * r])), []).append(sf)

    def bigrams(s: str) -> set:
        return {s[i : i + 2] for i in range(len(s) - 1)} if len(s) >= 2 else {s}

    cand = set()
    for members in buckets.values():
        if len(members) > 1:
            ms = sorted(set(members))
            for i, a in enumerate(ms):
                for b2 in ms[i + 1 :]:
                    cand.add((a, b2))

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b2 in cand:
        sa, sb = bigrams(a), bigrams(b2)
        if len(sa & sb) / len(sa | sb) >= JACCARD_T:
            ra, rb = find(a), find(b2)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    comp = {row["surface_form"]: None for row in gaz_rows}
    for s in comp:
        comp[s] = find(s) if s in parent else s

    canon: dict = {}  # component -> min (entity_id, entity_type)
    for row in gaz_rows:
        c = comp[row["surface_form"]]
        key = (row["entity_id"], row["entity_type"])
        if c not in canon or key < canon[c]:
            canon[c] = key
    m: dict = {}  # entity_id -> min (canon_id, canon_type)
    for row in gaz_rows:
        ck = canon[comp[row["surface_form"]]]
        e = row["entity_id"]
        if e not in m or ck < m[e]:
            m[e] = ck
    rows = [(e, cid, ct) for e, (cid, ct) in sorted(m.items())]
    return spark.createDataFrame(
        rows, "entity_id string, canon_id string, canon_type string"
    )


def build_canon_map(
    gazetteer: DataFrame,
    local_threshold: int = CANON_LOCAL_THRESHOLD,
    shingle_hash=None,
    gaz_rows: list | None = None,
) -> DataFrame:
    """Surface-form similarity edges → connected components → per-component
    canonical entity (min entity_id, with its type). Returns
    (entity_id, canon_id, canon_type).

    Size-adaptive: a gazetteer under ``local_threshold`` rows resolves
    driver-side (2 dictionary-sized jobs — a truncating collect and the
    MinHash signature aggregate — instead of ~10 shuffle stages); pass 0 to
    force the distributed path (property tests exercise both).

    ``shingle_hash`` (forwarded to minhash_signatures) swaps the MinHash
    family; the md5-60-bit mirrorable family lets a DuckDB oracle replay the
    ENTIRE chain — signatures, band buckets, Jaccard verify, connected
    components, rep selection (driver entry ``canon_map_mirror``). Both the
    local and distributed paths thread it, so the bit-equality pin between
    them holds for any family (band bucketing is slice EQUALITY semantics
    either way).

    ``gaz_rows`` (round 6): pre-collected gazetteer rows carrying
    surface_form/entity_id/entity_type — run_pipeline collects the
    dictionary-sized gazetteer once per call and feeds every consumer, so
    the local path here skips its own collect job (one fewer eager driver
    job per pipeline rep). Truncation contract matches the inline collect:
    more than ``local_threshold`` rows falls through to the distributed
    path."""
    if local_threshold:
        from kbgen_spark.operators.canonicalize import minhash_signatures

        if gaz_rows is None:
            gaz_rows = (
                gazetteer.select("surface_form", "entity_id", "entity_type")
                .limit(local_threshold + 1)
                .collect()
            )
        if len(gaz_rows) <= local_threshold:
            spark = gazetteer.sparkSession
            surfaces = sorted({r["surface_form"] for r in gaz_rows})
            sig_rows = minhash_signatures(
                spark.createDataFrame(
                    [(s,) for s in surfaces], "surface_form string"
                ),
                "surface_form",
                LSH_K,
                shingle_hash=shingle_hash,
            ).collect()
            return _build_canon_map_local(spark, gaz_rows, sig_rows)
    edges = similar_surface_edges(
        gazetteer,
        "surface_form",
        k=LSH_K,
        bands=LSH_BANDS,
        threshold=JACCARD_T,
        shingle_hash=shingle_hash,
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(edges, vertices=gazetteer.select("surface_form"))
    sfc = gazetteer.join(
        comp.withColumnRenamed("id", "surface_form"), "surface_form"
    )
    canon = sfc.groupBy("component").agg(
        F.min(F.struct("entity_id", "entity_type")).alias("c")
    ).select(
        "component",
        F.col("c.entity_id").alias("canon_id"),
        F.col("c.entity_type").alias("canon_type"),
    )
    m = (
        sfc.join(canon, "component")
        .groupBy("entity_id")
        .agg(F.min(F.struct("canon_id", "canon_type")).alias("c"))
        .select(
            "entity_id",
            F.col("c.canon_id").alias("canon_id"),
            F.col("c.canon_type").alias("canon_type"),
        )
    )
    return m


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    store: ParquetSnapshotStore | None = None,
    docs: DataFrame | None = None,
    gazetteer: DataFrame | None = None,
    patterns: DataFrame | None = None,
    stop_after: str | None = None,
    max_ents_per_doc: int | None = None,
) -> PipelineRun:
    """Run (or resume) the full flow over the corpus at ``sf_dir``.

    ``stop_after`` ∈ {extract, link, canon} simulates a killed run for the
    resume test (SURVEY §5.2 item 6).

    ``max_ents_per_doc``: opt-in fail-fast guard against pathologically
    entity-dense docs blowing up the quadratic doc-scope pair join —
    forwarded to assemble_triples (see its docstring); validation
    deployments enable it without touching operator code.
    """
    overrides = {"docs": docs, "gazetteer": gazetteer, "patterns": patterns}
    flat = FX.load_flat_documents(spark, sf_dir)
    docs = docs if docs is not None else FX.interleave_documents(flat)
    gazetteer = gazetteer if gazetteer is not None else FX.build_gazetteer(flat)
    patterns = (
        patterns if patterns is not None else FX.build_relation_patterns(spark)
    )

    # ONE fused, lazily-run gazetteer collect serves every dictionary-sized
    # plan decision (round 6, guide §5 "the driver should do almost no data
    # work"): the extract literal gate, canon's local-path rows, and the
    # link stage's norm_surface fixed-point guard each used to run their own
    # eager driver job per pipeline call — ~0.1 s of pure job latency each,
    # serial, every bench rep. The collect is capped at the canon local
    # threshold (same truncation contract); an over-threshold gazetteer
    # falls back to each callee's own distributed/collecting path. The norm
    # check evaluates the SAME Catalyst norm_surface expression the link
    # guard runs, so pre_normalized_checked skips a job without weakening
    # the guard. Deferred into the stage lambdas so a store-backed resume
    # that skips all stages never pays it.
    from kbgen_spark.functions.text import norm_surface

    _hoist: dict = {}

    def _gaz_rows() -> list | None:
        """Collected (surface_form, entity_id, entity_type, _norm_ok) rows,
        or None when the gazetteer exceeds CANON_LOCAL_THRESHOLD."""
        if "rows" not in _hoist:
            rows = (
                gazetteer.select(
                    "surface_form",
                    "entity_id",
                    "entity_type",
                    (norm_surface("surface_form") == F.col("surface_form")).alias(
                        "_norm_ok"
                    ),
                )
                .limit(CANON_LOCAL_THRESHOLD + 1)
                .collect()
            )
            _hoist["rows"] = rows if len(rows) <= CANON_LOCAL_THRESHOLD else None
        return _hoist["rows"]

    def _surfaces() -> list | None:
        rows = _gaz_rows()
        if rows is None:
            return None
        return sorted({r["surface_form"] for r in rows})

    def _norm_checked_safe() -> bool | None:
        """True/False = the fused collect's verdict on the link guard's
        exact predicate (demote iff some surface is NOT a fixed point);
        None = gazetteer over the cap — let the guard run its own job."""
        rows = _gaz_rows()
        if rows is None:
            return None
        return not any(r["_norm_ok"] is False for r in rows)

    run = PipelineRun(triples=None)
    # Input fingerprint ties snapshots to input CONTENT (file names + sizes
    # + mtimes), not just the path: replacing the corpus at the same path
    # invalidates old snapshots instead of silently resuming stale triples.
    in_fp = path_fingerprint(f"{sf_dir}/documents.parquet")
    if store is not None:
        # Caller-supplied docs/gazetteer/patterns replace what sf_dir implies,
        # so the path fingerprint alone would resume snapshots computed from
        # DIFFERENT data. Fold a content hash of each override in (one extra
        # scan per overridden input, only on store-backed resumable runs).
        for name, df in overrides.items():
            if df is not None:
                in_fp += f";{name}={dataframe_fingerprint(df)}"
    params = {"sf_dir": sf_dir, "lsh_k": LSH_K, "bands": LSH_BANDS, "tau": JACCARD_T}

    def _params(stage: str) -> dict:
        return {**params, "stage_version": STAGE_VERSIONS[stage]}

    ext = run_stage(
        spark,
        store,
        "extract",
        _params("extract"),
        in_fp,
        lambda: extract_mentions(docs, gazetteer, surfaces=_surfaces()),
        fan_out=False,  # consumed only by link
    )
    run.stages["extract"] = ext
    if ext.skipped:
        run.skipped.append("extract")
    if stop_after == "extract":
        return run

    # canon depends only on the (dictionary-sized) gazetteer, so it runs
    # BEFORE link: the link stage then fuses linking + canonical re-keying
    # into one projection, and the fan-out checkpoint stores the pruned
    # 5-column canon-link table instead of the 9-column raw link table
    # (mention/surface/score strings never hit the block store — at corpus
    # scale that halves the bytes of the largest checkpoint).
    canon = run_stage(
        spark,
        store,
        "canon",
        _params("canon"),
        in_fp,
        lambda: build_canon_map(gazetteer, gaz_rows=_gaz_rows()),
        fan_out=False,  # consumed only by link's broadcast verdict build
    )
    run.stages["canon"] = canon
    if canon.skipped:
        run.skipped.append("canon")
    if stop_after == "canon":
        return run

    lnk = run_stage(
        spark,
        store,
        "link",
        _params("link"),
        in_fp,
        # Fused: the link verdict and canon map are both dictionary-sized,
        # so they compose on the broadcast side — ONE hash probe per mention
        # row instead of two, and no norm_surface pass (extract emits
        # mentions by exact surface-form equality; see link_mentions).
        lambda: link_and_canonicalize(
            ext.df,
            gazetteer,
            canon.df,
            pre_normalized=(
                True
                if _norm_checked_safe() is None
                else _norm_checked_safe()
            ),
            pre_normalized_checked=_norm_checked_safe() is not None,
        ),
    )
    run.stages["link"] = lnk
    if lnk.skipped:
        run.skipped.append("link")
    if stop_after == "link":
        return run

    mat = run_stage(
        spark,
        store,
        "materialize",
        _params("materialize"),
        in_fp,
        lambda: assemble_triples(
            lnk.df, patterns, max_ents_per_doc=max_ents_per_doc
        ),
        fan_out=False,  # consumed once by the caller's action
    )
    run.stages["materialize"] = mat
    if mat.skipped:
        run.skipped.append("materialize")

    # A10 — observe() counters ride along with whatever action the caller
    # runs next (no extra job): triple count + predicate spread.
    from pyspark.sql import Observation

    obs = Observation("kg_metrics")
    run.observation = obs
    run.triples = mat.df.observe(
        obs,
        F.count(F.lit(1)).alias("n_triples"),
        F.approx_count_distinct("pred").alias("n_preds"),
        F.approx_count_distinct("subj").alias("n_subjects"),
    )
    return run


def triples_fingerprint(triples: DataFrame) -> str:
    return dataframe_fingerprint(triples.select("subj", "pred", "obj"))
