"""SparkSession factory tuned for this engine.

Local mode is the test/bench environment. ``ENGINE_CONF`` is the part that
ships to a real cluster: ``runner/cli.py``'s spark-submit session applies
it too, while master, cores, shuffle partitions, driver memory and the UI
stay local-mode choices made here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Pinned Iceberg runtime for the `iceberg:` read/write branches
# (runner/cli.py). Not bundled in this container; enable with ONE line on
# any networked machine:
#   spark-submit --packages $(python -c "from team_goldo_combat_log_parser_spark.session import ICEBERG_PACKAGE; print(ICEBERG_PACKAGE)") ...
# or get_spark(extra_conf=iceberg_conf("/path/to/warehouse")). Bump the
# runtime suffix in lockstep with the Spark minor in use.
ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_conf(warehouse: str, catalog: str = "local",
                 with_packages: bool = False) -> dict[str, str]:
    """SparkSession conf for a Hadoop-catalog Iceberg warehouse. Pass
    with_packages=True to also pull the pinned runtime via Ivy (needs
    network; on an offline box install the jar into $SPARK_HOME/jars)."""
    conf = {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}":
            "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
    if with_packages:
        conf["spark.jars.packages"] = ICEBERG_PACKAGE
    return conf


# Settings every session of this engine runs with, whoever builds it.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # pulls are parsed and written as UTC wall time, whatever the JVM's
    # default zone
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
    # parquet scans: bigger splits keep task count sane on wide scans
    "spark.sql.files.maxPartitionBytes": "268435456",
    # dictionary/RLE compression of cached wide string columns costs
    # ~7x the cache-build time for this workload; raw columnar is fine
    "spark.sql.inMemoryColumnarStorage.compressed": "false",
    # one landing cycles through ~230 generated classes; at the default
    # 100 entries the LRU never hits and every landing recompiles them.
    # Static: the JVM's first compile fixes the size, so it must be in the
    # conf of the session that starts the JVM
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "team_goldo_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to cores (local shuffles through one JVM;
    200 default would over-parallelize tiny stages and under-parallelize at
    scale — on a real cluster AQE coalesces from a higher initial value).
    master: explicit override, e.g. "local-cluster[4,2,6144]" for a real
    multi-executor-JVM test topology (cores then sets shuffle parallelism).
    """
    if master is not None:
        n = cores or (os.cpu_count() or 8)
    elif cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n, 4)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        b = b.config(map=extra_conf)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
