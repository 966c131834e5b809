from __future__ import annotations

import pytest

from kbgen_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kbgen_spark_tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def flat_docs(spark):
    from kbgen_spark import fixtures as FX

    return FX.load_flat_documents(spark, SF_DIR).cache()


@pytest.fixture(scope="session")
def docs(spark, flat_docs):
    from kbgen_spark import fixtures as FX

    return FX.interleave_documents(flat_docs).cache()


@pytest.fixture(scope="session")
def gazetteer(spark, flat_docs):
    from kbgen_spark import fixtures as FX

    return FX.build_gazetteer(flat_docs).cache()


@pytest.fixture(scope="session")
def patterns(spark):
    from kbgen_spark import fixtures as FX

    return FX.build_relation_patterns(spark)
