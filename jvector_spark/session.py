"""SparkSession factory with engine-tuned defaults.

Local mode for tests/bench; the same configs are what we would set on a
real cluster (AQE, Arrow, sensible shuffle partitioning). On a 1000-executor
cluster only ``master`` and memory sizing change — the plan shapes stay valid
because every operator is expressed declaratively and scales with input
partitioning, not driver state.

Every session runs its Python workers through ``jvector_spark._daemon``
(``spark.python.daemon.module``): pyspark's daemon with a cheaper
``importlib.invalidate_caches``, which pyspark calls before every task
(about 0.2 s per task without it; see that module for the one semantic
change). The workers import that module, so ``get_spark`` also puts the
directory holding ``jvector_spark`` on their path
(``spark.executorEnv.PYTHONPATH``), whatever the caller's cwd. A session
whose workers cannot import ``jvector_spark`` fails every Python task,
user UDFs included.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MB = 16 << 10
# the directory holding the jvector_spark package, for the workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``JVS_DRIVER_MEMORY`` is unset:
    ``min(16g, 40% of MemTotal)``. The local-mode driver JVM hosts every
    executor, grows into its heap and shares the host with the Python
    workers, so a fixed 16g heap on a 15 GB host gets the JVM OOM-killed.
    Hosts without ``/proc/meminfo`` keep 16g."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) >> 10  # reported in kB
                    return f"{min(_MAX_DRIVER_MB, total_mb * 2 // 5)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{_MAX_DRIVER_MB}m"


def default_cpus() -> int:
    """Task slots of a ``local[N]`` session when ``SPARK_GRAFT_CPUS`` is
    unset: the CPUs this process may run on (its affinity mask, which a
    container's cpuset narrows), so a 4-core host starts 4 Python workers
    at a time, not 32. Platforms without ``sched_getaffinity`` fall back
    to ``os.cpu_count()``."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "jvector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's SparkSession (``getOrCreate``): ``local[N]`` with
    ``N = SPARK_GRAFT_CPUS`` (``default_cpus()`` when unset) unless
    ``master`` is given, and the defaults above; ``extra_conf`` entries
    are set last and win.

    Python workers start from ``jvector_spark._daemon``
    (``spark.python.daemon.module``), and ``spark.executorEnv.PYTHONPATH``
    gets the directory holding ``jvector_spark``, so the workers import it
    from any cwd. A ``spark.executorEnv.PYTHONPATH`` in ``extra_conf`` is
    kept: the package directory is appended to it. If the workers still
    cannot import ``jvector_spark`` (say, a cluster whose executors lack
    the package), every Python task of the session fails."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # events.parquet stores TIMESTAMP(NANOS), which the parquet reader
        # rejects unless read as long — set once at session build, not per
        # query (it only affects nanos-timestamp parquet columns)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # A partitioned segment dir (part_id=0..999) triggers a
        # distributed listing JOB above this many dirs (default 32) —
        # 1000 near-empty tasks costing ~6 s per spark.read.parquet of
        # an index segment (measured r9), paid on EVERY load/scan.
        # Driver-side listing of a few thousand dirs is milliseconds on
        # local disk and single-digit seconds on object stores; the
        # distributed job only pays off at far higher dir counts.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config(
            "spark.driver.memory",
            os.environ.get("JVS_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.awt.headless=true")
        .config("spark.python.daemon.module", "jvector_spark._daemon")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p
        for p in (conf.get("spark.executorEnv.PYTHONPATH"), _PACKAGE_PARENT)
        if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
