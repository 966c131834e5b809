"""S6 — snapshot store with per-partition lineage and resume (SURVEY.md §2.1
S6, §4.3; BASELINE.json:14 "resumable from checkpoint with per-partition
lineage + metrics").

Spark has no cross-job checkpoint contract, so stages commit through
``ParquetSnapshotStore``: one directory per (stage, params_hash) containing
the parquet output plus ``_MANIFEST.json`` with {stage, params_hash,
input_fingerprint, rows, per-partition row counts, schema, counters}.  A
write is atomic at the manifest level: the manifest is written only after
the parquet commit succeeds, so a killed run leaves no valid snapshot and
the stage re-executes on resume.

Resume contract: ``run_stage`` recomputes the stage only when no manifest
matches (stage, params_hash, input_fingerprint); otherwise it reloads the
committed snapshot.  Because every "random" draw in the engine is an
xxhash64 function of stable ids, a resumed run is bit-identical to an
uninterrupted one (SURVEY §3.3).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def params_hash(params: dict) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def dataframe_fingerprint(df: DataFrame) -> str:
    """Order-insensitive content hash: sum of row xxhash64 over canonicalized
    string forms + row count. One extra pass — only used at checkpoint
    boundaries."""
    row = df.select(
        F.coalesce(
            F.sum(
                F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast(
                    "decimal(38,0)"
                )
            ),
            F.lit(0),
        ).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"{row['n']}:{int(row['h'])}"


def path_fingerprint(*paths: str) -> str:
    """Cheap CONTENT-tied fingerprint of on-disk inputs: sorted file names +
    sizes + mtime_ns under each path. Changing the corpus at the same path
    changes the fingerprint, so resume never replays snapshots of stale
    inputs (a bare path string would). One os.walk, no Spark job."""
    h = hashlib.sha256()
    for path in paths:
        if os.path.isdir(path):
            for root, dirs, files in sorted(os.walk(path)):
                dirs.sort()
                for fname in sorted(files):
                    fp = os.path.join(root, fname)
                    st = os.stat(fp)
                    h.update(
                        f"{os.path.relpath(fp, path)}:{st.st_size}:{st.st_mtime_ns};".encode()
                    )
        elif os.path.exists(path):
            st = os.stat(path)
            h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns};".encode())
        else:
            h.update(f"missing:{path};".encode())
    return h.hexdigest()[:16]


@dataclass
class StageResult:
    df: DataFrame
    skipped: bool
    manifest: dict


_FANOUT_PERSISTED: list[DataFrame] = []


def release_fanouts() -> None:
    """Unpersist every DataFrame materialized by materialize_fanout.
    CacheManager holds STRONG refs to persisted plans — dropping the Python
    handle does NOT free the blocks (and an identical re-built plan would
    silently cache-hit stale data) — so long sessions that run the pipeline
    repeatedly (bench repeat loops, pytest, notebook use) must call this
    once the consuming stage's actions have completed."""
    for df in _FANOUT_PERSISTED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    _FANOUT_PERSISTED.clear()


def materialize_fanout(df: DataFrame) -> DataFrame:
    """Materialize a fan-out stage output exactly once (consumed by several
    downstream branches): ``persist(DISK_ONLY)`` + count, registered for
    release_fanouts. Tasks spill serialized blocks to executor-local disk in
    parallel and never touch the deserialized memory store, so there is no
    shared memory-store lock and no GC amplification, and the blocks are
    served through the block manager on any cluster layout. A parquet
    write + driver re-read was measured against it (BENCH/BASELINE.md,
    PLANS.md): it won only on an 80k-doc fan-out at local[32] (9.2 s vs
    10.5 s) and lost 3-5x on small inputs."""
    out = df.persist(StorageLevel.DISK_ONLY)
    out.count()
    _FANOUT_PERSISTED.append(out)
    return out


class ParquetSnapshotStore:
    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _dir(self, stage: str, phash: str) -> str:
        return os.path.join(self.base_dir, stage, f"snapshot-{phash}")

    def manifest_path(self, stage: str, phash: str) -> str:
        return os.path.join(self._dir(stage, phash), MANIFEST)

    def load_manifest(self, stage: str, phash: str) -> dict | None:
        p = self.manifest_path(stage, phash)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def read(self, spark: SparkSession, stage: str, phash: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._dir(stage, phash), "data"))

    def commit(
        self,
        df: DataFrame,
        stage: str,
        phash: str,
        input_fingerprint: str,
        extra: dict | None = None,
    ) -> tuple[DataFrame, dict]:
        """Write data, gather per-partition lineage counters, then publish the
        manifest (manifest-last = atomic commit point).

        The OLD manifest (if any) is deleted FIRST: otherwise a crash between
        the data rewrite and the manifest rewrite would leave a stale-but-
        valid-looking manifest paired with new data, silently breaking the
        manifest-last atomicity contract on re-commit."""
        d = self._dir(stage, phash)
        data_dir = os.path.join(d, "data")
        old_manifest = self.manifest_path(stage, phash)
        if os.path.exists(old_manifest):
            os.remove(old_manifest)
        df.write.mode("overwrite").parquet(data_dir)
        spark = df.sparkSession
        committed = spark.read.parquet(data_dir)
        per_part = {
            str(r["pid"]): r["rows"]
            for r in committed.groupBy(
                F.spark_partition_id().alias("pid")
            )
            .agg(F.count("*").alias("rows"))
            .collect()
        }
        manifest = {
            "stage": stage,
            "params_hash": phash,
            "input_fingerprint": input_fingerprint,
            "rows": int(sum(per_part.values())),
            "partition_rows": per_part,
            "schema": committed.schema.simpleString(),
            **(extra or {}),
        }
        tmp = self.manifest_path(stage, phash) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path(stage, phash))
        return committed, manifest


def run_stage(
    spark: SparkSession,
    store: ParquetSnapshotStore | None,
    stage: str,
    params: dict,
    input_fingerprint: str,
    compute: Callable[[], DataFrame],
    fan_out: bool = True,
) -> StageResult:
    """Execute-or-resume one pipeline stage.

    Without a store, a stage whose output ``fan_out``s to multiple consumers
    (triple assembly scans links four times — subj/obj × doc/span scope) is
    materialized EAGERLY on disk via materialize_fanout (one mode, no size
    input). Lazy was tried in round 1
    ("saves a job"), but measured 30% slower end-to-end (92s → 64s at 8
    cores, 320k docs): with a lazy checkpoint the DAG scheduler can submit
    several downstream shuffle-map stages before any has materialized the
    blocks, and each one recomputes the full upstream subtree (the mention
    UDF ran more than once). Eager materializes exactly once in its own
    job. Single-consumer stages stay fully lazy (a checkpoint there only
    buys block traffic)."""
    if store is None:
        df = compute()
        if fan_out:
            df = materialize_fanout(df)
        return StageResult(df, skipped=False, manifest={})
    phash = params_hash(params)
    man = store.load_manifest(stage, phash)
    if man is not None and man.get("input_fingerprint") == input_fingerprint:
        return StageResult(store.read(spark, stage, phash), skipped=True, manifest=man)
    df, man = store.commit(compute(), stage, phash, input_fingerprint)
    return StageResult(df, skipped=False, manifest=man)
