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


def _run_in_job_group(spark, fn) -> list[int]:
    """Run ``fn()`` under a fresh job group; the ids of the jobs it
    started, read once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc.statusTracker().getJobIdsForGroup(group)


def count_jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs: ``fn`` runs under a fresh
    job group and the status tracker counts the group's jobs once the
    listener bus has delivered every event. ``fn`` must materialize what
    it builds (``collect()``, ``count()``) — a lazy plan starts no job."""
    return len(_run_in_job_group(spark, fn))


def stage_tasks(spark, fn) -> list[int]:
    """Task count of each stage that ``fn()`` started, in stage-id order
    (same job-group pattern as :func:`count_jobs`). A stage a job skipped
    because its shuffle output already existed started no task and is
    left out."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids = set()
    for j in _run_in_job_group(spark, fn):
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = []
    for s in sorted(stage_ids):
        st = tracker.getStageInfo(s)
        if st is not None and st.numCompletedTasks > 0:
            out.append(st.numTasks)
    return out
