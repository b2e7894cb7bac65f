"""SparkSession factory with the engine's canonical configuration.

Local-mode knobs are for the sandbox; on a real cluster the same
settings apply minus ``master`` (spark-submit supplies it). AQE is on
so skewed shuffles re-plan at runtime, complementing the engine's
structural skew handling (doc-block-aligned posting groups, see
codeindex_spark/index/build.py).

Python workers start from ``codeindex_spark._daemon`` instead of
``pyspark.daemon`` (``spark.python.daemon.module``). Before every task
pyspark's worker invalidates the import caches, which makes each zip
importer on the worker path (pyspark.zip, py4j, the spark-core jar) re-read
its archive directory; that fixed cost, ~0.2 s of CPU per task, outweighed
the kernel of a scored query. The engine's daemon re-reads an archive only
when it changed, so a zip shipped with ``addPyFile`` still imports.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "codeindex_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Make the package importable inside Python workers regardless of
    # the driver's cwd — the local-mode analog of shipping the package
    # via ``spark-submit --py-files`` (BASELINE.json north_rule).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        # ~4 shuffle partitions per core keeps sort/encode partitions
        # small enough to avoid spill on wide doc-term shuffles
        shuffle_partitions = max(cores * 4, 16)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.python.daemon.module", "codeindex_spark._daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
