"""Session defaults must start on the host they run on."""

from __future__ import annotations

import os

from conftest import SF_DIR

from kbgen_spark import session

# A warm rep may still compile a few classes: AQE can number a re-planned
# stage differently, and the stage id is part of the generated class (0-10
# per warm sf0.001 rep seen). A thrashing cache recompiles 50-90 per rep.
WARM_REP_MAX_COMPILES = 20


def test_default_driver_heap_fits_host_and_is_not_pretouched():
    ram_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    assert 0 < session._default_driver_mem_mb() <= ram_mb
    assert "-Xms" not in session.DEFAULT_DRIVER_JAVA_OPTS
    assert "AlwaysPreTouch" not in session.DEFAULT_DRIVER_JAVA_OPTS


def test_factory_session_applies_pipeline_conf(spark):
    for key, value in session.PIPELINE_CONF.items():
        assert spark.conf.get(key) == value, key


def test_warm_pipeline_rep_reuses_generated_code(spark):
    """The codegen cache holds the pipeline's working set: once the pipeline
    has run, a further rep finds its generated classes in the cache instead
    of compiling them again."""
    from kbgen_spark.pipeline import run_pipeline, triples_fingerprint

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_MAX_ENTRIES
    )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME().getCount

    def rep() -> int:
        before = compiles()
        fp = triples_fingerprint(run_pipeline(spark, SF_DIR).triples)
        assert fp == "432:3272129491746201518"
        return compiles() - before

    rep()
    # the counter is live: this JVM has compiled the pipeline's code
    assert compiles() > WARM_REP_MAX_COMPILES
    rep()
    assert rep() <= WARM_REP_MAX_COMPILES
