"""spark-submit entry point (north_rule: "ships via spark-submit --py-files
to multi-executor clusters").

    zip -r kbgen_spark.zip kbgen_spark
    spark-submit --py-files kbgen_spark.zip jobs/run_pipeline.py \
        --input /data/docs_sf --checkpoint /ckpt/kg --output /out/triples \
        [--replicate R]

On a cluster, omit ``--master`` and let spark-submit provide it; locally the
session factory falls back to local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf_dir with documents.parquet")
    ap.add_argument("--checkpoint", default=None, help="snapshot-store dir (resume)")
    ap.add_argument("--output", default=None, help="triples sink dir")
    ap.add_argument("--replicate", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from kbgen_spark import fixtures as FX
    from kbgen_spark.operators.materialize import write_triples
    from kbgen_spark.pipeline import run_pipeline
    from kbgen_spark.plans.lineage import ParquetSnapshotStore

    # under spark-submit a session already exists with the cluster master
    spark = SparkSession.builder.appName("kbgen_run_pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    store = ParquetSnapshotStore(args.checkpoint) if args.checkpoint else None
    docs = None
    if args.replicate > 1:
        flat = FX.load_flat_documents(spark, args.input)
        docs = FX.replicate_documents(FX.interleave_documents(flat), args.replicate)

    t0 = time.time()
    run = run_pipeline(spark, args.input, store=store, docs=docs)
    if args.output:
        # the write is the only action: a count() first would execute the
        # lazy stages twice. The observe() counters ride on the write.
        write_triples(run.triples, args.output)
        n = run.metrics()["n_triples"]
    else:
        n = run.triples.count()
    elapsed = time.time() - t0
    print(
        json.dumps(
            {
                "triples": n,
                "elapsed_sec": round(elapsed, 2),
                "skipped_stages": run.skipped,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
