import os

# Spark's Python workers run single-threaded BLAS; the bitwise tests' local
# numpy oracles must too, or the last bits of a fit differ. Set before
# anything imports numpy.
os.environ.setdefault("OMP_NUM_THREADS", "1")

import pytest  # noqa: E402

from mpnsm_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mpnsm_spark_tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts(spark):
    """Small deterministic transcript table shared across tests."""
    from mpnsm_spark.generator import generate_transcripts, with_value

    df = with_value(generate_transcripts(spark, n_convs=40, n_turns=4000, seed=42))
    df = df.cache()
    df.count()
    return df
