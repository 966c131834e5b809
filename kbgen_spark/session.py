"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a 1000-executor / 100 TB deployment; the driver heap
is sized from the host's physical RAM so a default session starts anywhere:

- AQE on (runtime coalescing, SMJ→broadcast conversion, skew-join splitting).
- Explicit skew-join enablement (SURVEY.md §2.12 K3).
- Arrow enabled for pandas-UDF exchange (the only sanctioned Python boundary).

``PIPELINE_CONF`` holds the confs the pipeline depends on; the spark-submit
job (jobs/run_pipeline.py) applies the same dict:

- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Co-partitioned joins accept a partitioning on a subset of their keys
  (``spark.sql.requireAllClusterKeysForCoPartition=false``), so the pair
  joins reuse the links' ``doc_id`` layout (operators/materialize.py); the
  query_suite queries execute the same plans either way.
- 8 MB Tungsten memory pages (``spark.buffer.pageSize``, static). Each
  hash-map operator of a task allocates at least one page, and Spark's
  default reaches 64 MB on a 4 GB heap at 4 cores; a pair-join task runs
  seven such operators, and young GCs promoted their pages (kg_batch peak
  RSS ~4.5 GB at 64 MB, ~2.4 GB at 8 MB; PLANS.md). A larger map just
  takes more pages.
- A codegen cache sized for the pipeline's working set
  (``CODEGEN_CACHE_MAX_ENTRIES``). One cache entry is one generated class:
  the Janino-compiled whole-stage or expression code of one distinct plan
  fragment. One kg_batch rep generates about 90 distinct classes and its
  set-up about 50 more, ~140 per session. Spark's default
  (``spark.sql.codegen.cache.maxEntries`` = 100) is a Guava cache of 4 LRU
  segments of 25 entries; a rep touches its classes in the same order every
  time, so any segment that receives more than 25 of them misses on every
  access. Which classes share a segment differs between sessions: after
  two warm-up reps a timed rep still compiled 0-8 classes in one session,
  21-24 in others and 51-54 in another, first with Janino and then with
  the JIT, whose compiler threads ran on the same 4 cores as the task
  threads. At 1000 entries (~7x the working set) a timed rep compiles 0-4.
  The conf is static and sizes the JVM-wide ``CodeGenerator`` cache, so it
  only takes effect when set before the first session of the JVM exists.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# ParallelGC beats G1 on this batch-throughput workload at every measured
# core count (BENCH/raw/jvmopts_ab_x64_r5.json). On a real cluster the same
# flag belongs in spark.executor.extraJavaOptions.
DEFAULT_DRIVER_JAVA_OPTS = "-XX:+UseParallelGC"
# Generated classes the JVM-wide codegen cache keeps (module docstring).
CODEGEN_CACHE_MAX_ENTRIES = 1000
# Confs the pipeline depends on (module docstring).
PIPELINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    "spark.buffer.pageSize": "8m",
}


def _default_driver_mem_mb() -> int:
    """Driver heap in MB: ~60% of physical RAM. In local mode the driver JVM
    hosts every executor thread, so it gets most of the box, leaving the
    rest for Python workers, off-heap buffers and the page cache."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(ram * 0.6) >> 20


def _default_local_dir() -> str | None:
    """Shuffle/spill dir. The sandbox VM disk serializes concurrent shuffle
    writers (measured: 28% pipeline speedup moving to tmpfs at local[8]);
    prefer /dev/shm when present and writable. On a real cluster
    spark.local.dir comes from the cluster conf — env override wins."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return None


def get_spark(
    app_name: str = "kbgen_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster pass None and let spark-submit set it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{_default_driver_mem_mb()}m"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime partition coalescing, skew-join splitting, SMJ→BHJ.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs (mention detection, emitter, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: the mention UDF's per-batch overhead
        # (series construction, dict lookups re-entry) amortizes better;
        # rows at this boundary are short text spans, so batch memory stays
        # in the tens of MB.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Nested-schema pruning: text-only stages must never read media bytes.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # local mode: the driver JVM hosts every executor thread — size the
        # heap for all of them (tasks × shuffle/agg buffers), not a
        # driver-only 1-2g default.
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config(map=PIPELINE_CONF)
    )
    # $SPARK_GRAFT_DRIVER_JAVA_OPTS overrides; set to "" to disable. The
    # r5 A/B also favoured -Xms=Xmx + AlwaysPreTouch, but only on a 125 GB
    # host; committing the whole heap at start is not a safe default.
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", DEFAULT_DRIVER_JAVA_OPTS)
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
