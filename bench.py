"""Benchmark harness — one JSON line for the driver (per round), headline
queries over $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]
(default: all cores).

The KG pipeline is benchmarked over a deterministically replicated corpus
($SPARK_GRAFT_REPLICATE × the sf documents, FIXTURES.md §1) so the timed
region is dominated by per-doc work, not fixed costs. docs_per_sec is the
headline throughput figure (BASELINE.md).

Run: python bench.py
Scaling evidence (local[8] vs local[32]): tools/bench_scaling.py → BENCH/.
"""

from __future__ import annotations

import json
import os
import sys
import time


def run_bench(
    sf_dir: str, cpus: int, replicate: int, only_pipeline: bool = False
) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from kbgen_spark import fixtures as FX
    from kbgen_spark.pipeline import run_pipeline
    from kbgen_spark.session import get_spark

    spark = get_spark(
        app_name="kbgen_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # --- headline: the KG construction pipeline over a replicated corpus
    flat = FX.load_flat_documents(spark, sf_dir)
    n_docs = flat.count() * max(replicate, 1)
    # Partition count scales with DATA (bounded rows per partition), floored
    # at one wave. The round-2 cap at 4×cpus was a ×256 scale-killer: at
    # 1.28M docs / 32 partitions each extract-stage task aggregated ~2.1M
    # candidate structs, and with 8 concurrent tasks each holding 1/8 of the
    # unified execution-memory pool the aggregates SPILLED — while the
    # 2-core leg (1/2 pool per task) did not, so the 8-core leg degraded
    # 2.6× and faked a 0.34-0.63 scaling efficiency (measured, round 4).
    # Bounding rows-per-partition instead keeps per-task memory constant at
    # any corpus size — the same rule a 100 TB deployment uses (task
    # dispatch is ~ms; spills are the thing that does not scale).
    parts = max(cpus, n_docs // 2500)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    docs = FX.replicate_documents(FX.interleave_documents(flat), replicate)
    docs = docs.repartition(parts).localCheckpoint(eager=True)
    docs.count()
    gaz = FX.build_gazetteer(flat).localCheckpoint(eager=True)
    patterns = FX.build_relation_patterns(spark)

    # Warm the engine on a 1× corpus first: whole-stage-codegen compilation,
    # python-worker spin-up, and broadcast machinery are one-time costs a
    # long-running 100 TB job amortizes to zero — excluding them makes the
    # timed region measure steady-state per-doc throughput (and makes the
    # N-vs-4N scaling ratio reflect the engine, not JIT warmup).
    warm_docs = FX.interleave_documents(flat)
    run_pipeline(
        spark, sf_dir, docs=warm_docs, gazetteer=gaz, patterns=patterns
    ).triples.count()
    from kbgen_spark.plans.lineage import release_fanouts

    # The warmup's canon stage has an IDENTICAL plan to the timed reps'
    # (build_canon_map(gazetteer)) — without an unpersist the reps would
    # silently cache-hit its persisted output and measure a cache read.
    release_fanouts()

    # min-of-N repeats: this is a shared VM whose background load swings a
    # single run ~2× (measured); the minimum over same-JVM repeats is the
    # standard noise filter and is what a dedicated executor would see.
    repeat = int(os.environ.get("SPARK_GRAFT_REPEAT", "2"))
    best = None
    for _ in range(repeat):
        t0 = time.time()
        run = run_pipeline(spark, sf_dir, docs=docs, gazetteer=gaz, patterns=patterns)
        triples = run.triples.localCheckpoint(eager=True)
        dt = round(time.time() - t0, 3)
        best = dt if best is None else min(best, dt)
        # Free this rep's fan-out blocks: persist() modes register strong
        # CacheManager refs that gc.collect() does NOT release, and a
        # cache-hit on the previous rep's persisted stage would make
        # min-of-N partially measure cache reads instead of recompute.
        release_fanouts()
    timings["pipeline_e2e"] = best

    if not only_pipeline:
        qs = entry.queries()
        # Relational/window queries: partition count pinned to the core
        # count, NOT doc-scaled (the doc-derived `parts` above sized q3 for
        # a 20k-doc corpus and is irrelevant to a 600k-row lineitem join).
        spark.conf.set("spark.sql.shuffle.partitions", str(max(2 * cpus, 16)))
        # Sub-5s queries are warmed once so the timing measures steady-state
        # execution, not first-run codegen compile (~1-2s, core-count
        # independent — the round-2 "q3 regression" was exactly this).
        # Heavy queries are real-work-dominated; warming them would double
        # suite time for a <5% codegen share.
        warm = {
            "q1_pricing_summary",
            "q3_top_revenue_orders",
            "q5_region_nation_revenue",
            "window_rolling_sum_events",
            "tumbling_event_counts",
            "similarity_cosine_topk",
            "lang_id_documents",
        }
        for name in (
            "q1_pricing_summary",
            "q3_top_revenue_orders",
            "q5_region_nation_revenue",
            "window_rolling_sum_events",
            "tumbling_event_counts",
            "kg_cooccur_pairs",
            "minhash_doc_pairs",
            "simhash_doc_pairs",
            "dedup_ngram_jaccard_pairs",
            "similarity_cosine_topk",
            "lang_id_documents",
        ):
            if name in warm:
                qs[name](spark, sf_dir).count()
                release_fanouts()
            # min-of-N for every query (same shared-VM noise filter as
            # pipeline_e2e). Queries that checkpoint internally
            # (minhash_doc_pairs' shingle fan-out) must release between reps
            # — a cache-hit on the previous rep's persisted stage would make
            # min-of-N measure a cache read, not the query. `total` sums the
            # recorded minima, so repeats cost local wall-clock only, not
            # the recorded metric.
            best_q = None
            for _ in range(repeat):
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                dt = round(time.time() - t0, 3)
                best_q = dt if best_q is None else min(best_q, dt)
                release_fanouts()
            timings[name] = best_q

        # emitter throughput: learn from pipeline triples, emit 200k facts
        from kbgen_spark.models.emit import emit_synthetic
        from kbgen_spark.models.learn import learn_m1

        types = (
            gaz.select(
                F.col("entity_id").alias("entity"),
                F.col("entity_type").alias("type"),
            )
            .distinct()
        )
        # Same min-of-N filter as pipeline_e2e: a single draw on this shared
        # VM swings 3-9s under co-tenant steal (measured round 4) while the
        # steady-state cost is ~3s.
        best_le = None
        for _ in range(repeat):
            t0 = time.time()
            model = learn_m1(triples, types)
            emit_synthetic(spark, model, 200_000, seed=42, mode="m1").count()
            dt = round(time.time() - t0, 3)
            best_le = dt if best_le is None else min(best_le, dt)
        timings["learn_emit_200k"] = best_le

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "kbgen_spark headline suite wall-clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / timings["pipeline_e2e"], 1),
    }
    spark.stop()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "4"))
    only_pipeline = "--pipeline-only" in sys.argv
    print(json.dumps(run_bench(sf_dir, cpus, replicate, only_pipeline)))


if __name__ == "__main__":
    main()
