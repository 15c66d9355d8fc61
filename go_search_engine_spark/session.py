"""SparkSession factory tuned for this engine.

Local mode here; on a real cluster the same builder is used via
``spark-submit --py-files`` (see scripts/build_index.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "go_search_engine_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on: runtime coalescing + skew-join splitting complement our
      explicit head-term salting.
    - Arrow on: every pandas UDF crosses the JVM<->Python boundary in
      columnar batches, never per row.
    - shuffle partitions ~ cores: local mode; on a cluster this would be
      ~2-3x total executor cores.
    - Python workers fork from ``worker_daemon``, the stock daemon with
      stamped zip invalidation: on Python < 3.12 every UDF task would
      otherwise re-read pyspark.zip, the py4j zip and the spark-core jar
      (~150-220 ms per task on a 4-core host).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # local-mode Python workers inherit PYTHONPATH from the driver env,
    # NOT the driver's sys.path: a CLI launched from outside the repo dir
    # (scripts/serve.py from anywhere) would otherwise die with
    # ModuleNotFoundError inside every pandas UDF. On a real cluster
    # --py-files ships the package instead (scripts/build_index.py).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # v2 commit moves output files inside tasks (parallel) instead of
        # serially on the driver -- the blocks table writes one file per
        # (task x bucket) and v1's driver-side rename loop was a measured
        # serial floor in the build
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # default 128MB splits collapse a few-hundred-MB table into 2-3
        # scan tasks -- parallelism-starving every stage rooted at a scan;
        # 16MB keeps scan parallelism >= cores at bench scale (at real
        # scale files are plentiful and this matters less)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "go_search_engine_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
