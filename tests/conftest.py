import os

import pytest

from parser_indexer_py_spark.session import get_spark

# the library's default driver heap (64g) lets the test JVM grow until the
# host runs out of memory; every test corpus fits in 4g many times over
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    """Small deterministic transcript corpus (driver-side twin)."""
    from parser_indexer_py_spark.datagen import generate_transcripts_pandas

    return generate_transcripts_pandas(120)
