"""End-to-end KG construction: extract → canon → link → materialize
(SURVEY.md §3.2; north_rule BASELINE.json:14).

Each stage checkpoints through the snapshot store (plans/lineage.py) with
per-partition lineage counters; a rerun skips completed stages and replays
bit-identically (all randomness is hash-derived).

Every dictionary-sized decision (extract formulation, canon local path)
takes its rows from one driver read of the gazetteer,
``io.dictionary_rows``, which the extract stage makes.

The documents table itself is never mutated — stages *derive* new tables
keyed by (doc_id, span_idx), so the span-sequence invariant
(kind, text, media_ref, order) holds trivially; tests assert it end-to-end.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kbgen_spark import fixtures as FX
from kbgen_spark.io import DICTIONARY_MAX_ROWS, dictionary_rows, local_frame
from kbgen_spark.operators.canonicalize import (
    minhash_signatures,
    similar_surface_edges,
)
from kbgen_spark.operators.extract import extract_mentions
from kbgen_spark.operators.graph import connected_components, union_find
from kbgen_spark.operators.link import link_and_canonicalize
from kbgen_spark.operators.materialize import assemble_triples, partition_by_doc
from kbgen_spark.plans.lineage import (
    ParquetSnapshotStore,
    dataframe_fingerprint,
    path_fingerprint,
    run_stage,
)

LSH_BANDS = 16  # r = 2 rows/band: ≥99.9% recall at jaccard ≥ 0.6 (see canon docs)
LSH_K = 32
JACCARD_T = 0.5

# Canon's driver-local path builds every candidate pair of every band
# bucket in Python. When Σ C(|bucket|, 2), counted from the bucket sizes
# before any pair is built, is above this, canon takes the distributed
# chain instead, which spills. Read at call time, so a test can lower it.
CANON_LOCAL_MAX_PAIRS = 1_000_000

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
    "link": 3,  # r4 fused re-key; later link changes are bit-equal
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
    spark: SparkSession, rows: list, buckets: dict
) -> DataFrame:
    """Driver-side mirror of the distributed canon chain, bit-equal by
    construction (pinned by test_canon_local_equals_distributed).
    ``buckets`` maps (band, signature slice) to its surfaces, as
    build_canon_map groups them to count the candidate pairs:

    - band buckets group signatures by the EQUAL band slice (the xxhash64
      bucket code in lsh_candidate_pairs exists only to give the slice an
      equi-join key — equality of slices is the semantics, so no hash
      mirroring is needed);
    - candidate pairs a < b (Python str ordering == Spark UTF8String binary
      ordering: UTF-8 byte order preserves code-point order);
    - exact char-bigram Jaccard ≥ JACCARD_T (char_ngrams semantics: whole
      string when len < 2; |∩|/|∪| as IEEE double — identical division);
    - graph.union_find (min root) == connected_components' min-member contract;
    - canon per component / per entity via min (id, type) tuples == Spark's
      min(struct(...)) lexicographic field ordering.
    """

    def bigrams(s: str) -> set:
        return {s[i : i + 2] for i in range(len(s) - 1)} if len(s) >= 2 else {s}

    cand = set()
    for members in buckets.values():
        if len(members) > 1:
            ms = sorted(set(members))
            for i, a in enumerate(ms):
                for b2 in ms[i + 1 :]:
                    cand.add((a, b2))

    def jaccard(a: str, b: str) -> float:
        sa, sb = bigrams(a), bigrams(b)
        return len(sa & sb) / len(sa | sb)

    roots = union_find(pair for pair in cand if jaccard(*pair) >= JACCARD_T)
    comp = {s: roots.get(s, s) for s in (row["surface_form"] for row in rows)}

    canon: dict = {}  # component -> min (entity_id, entity_type)
    for row in rows:
        c = comp[row["surface_form"]]
        key = (row["entity_id"], row["entity_type"])
        if c not in canon or key < canon[c]:
            canon[c] = key
    m: dict = {}  # entity_id -> min (canon_id, canon_type)
    for row in rows:
        ck = canon[comp[row["surface_form"]]]
        e = row["entity_id"]
        if e not in m or ck < m[e]:
            m[e] = ck
    out = [(e, cid, ct) for e, (cid, ct) in sorted(m.items())]
    return local_frame(
        spark, out, "entity_id string, canon_id string, canon_type string"
    )


def build_canon_map(
    gazetteer: DataFrame,
    local_threshold: int = DICTIONARY_MAX_ROWS,
    shingle_hash=None,
) -> DataFrame:
    """Surface-form similarity edges → connected components → per-component
    canonical entity (min entity_id, with its type). Returns
    (entity_id, canon_id, canon_type).

    Size-adaptive: a gazetteer that ``io.dictionary_rows`` reads to the
    driver, with at most ``local_threshold`` rows and at most
    CANON_LOCAL_MAX_PAIRS band-bucket candidate pairs, resolves
    driver-side instead of in ~10 shuffle stages; pass 0 to force the
    distributed path (property tests exercise both). The local path runs no
    job once the gazetteer's rows are read (run_pipeline's extract stage
    reads them first): the surfaces go to ``minhash_signatures`` as a
    ``LocalRelation`` whose signature projection the optimizer folds on the
    driver, and the returned map is a ``LocalRelation`` too.

    ``shingle_hash`` (forwarded to minhash_signatures) swaps the MinHash
    family; the md5-60-bit mirrorable family lets a DuckDB oracle replay the
    ENTIRE chain — signatures, band buckets, Jaccard verify, connected
    components, rep selection (driver entry ``canon_map_mirror``). Both the
    local and distributed paths thread it, so the bit-equality pin between
    them holds for any family (band bucketing is slice EQUALITY semantics
    either way)."""
    rows = dictionary_rows(gazetteer) if local_threshold else None
    if rows is not None and len(rows) <= local_threshold:
        spark = gazetteer.sparkSession
        surfaces = sorted({r["surface_form"] for r in rows})
        sig_rows = minhash_signatures(
            local_frame(spark, [(s,) for s in surfaces], "surface_form string"),
            "surface_form",
            LSH_K,
            shingle_hash=shingle_hash,
        ).collect()
        r = LSH_K // LSH_BANDS
        buckets: dict = {}  # (band, signature slice) -> surfaces
        for row in sig_rows:
            sf, sig = row["surface_form"], row["sig"]
            for b in range(LSH_BANDS):
                buckets.setdefault((b, tuple(sig[b * r : (b + 1) * r])), []).append(sf)
        pairs = sum(len(m) * (len(m) - 1) // 2 for m in buckets.values())
        if pairs <= CANON_LOCAL_MAX_PAIRS:
            return _build_canon_map_local(spark, rows, buckets)
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
    if docs is None or gazetteer is None:
        flat = FX.load_flat_documents(spark, sf_dir)
        docs = docs if docs is not None else FX.interleave_documents(flat)
        gazetteer = gazetteer if gazetteer is not None else FX.build_gazetteer(flat)
    patterns = (
        patterns if patterns is not None else FX.build_relation_patterns(spark)
    )

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
        lambda: extract_mentions(docs, gazetteer),
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
        lambda: build_canon_map(gazetteer),
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
        # row instead of two (see link_and_canonicalize). The fan-out
        # persists the pair joins' doc_id layout (operators/materialize.py).
        lambda: partition_by_doc(link_and_canonicalize(ext.df, gazetteer, canon.df)),
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
