import os
import uuid

import numpy as np
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from jvector_spark.session import get_spark

    s = get_spark(app_name="jvector_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def random_vectors(spark, rng):
    """FIXTURES.md §1-style random corpus: n=1000, dim=16, class, attr."""
    n, dim = 1000, 16
    mat = rng.uniform(-1.0, 1.0, size=(n, dim)).astype(np.float32)
    rows = [
        (i, [float(x) for x in mat[i]], int(rng.integers(0, 2)), float(rng.uniform()))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, vec array<float>, class int, attr double")
    return df, mat


def count_jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs: ``fn`` runs under a fresh
    job group and the status tracker counts the group's jobs once the
    listener bus has delivered every event. ``fn`` must materialize what
    it builds (``collect()``, ``count()``) — a lazy plan starts no job."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
