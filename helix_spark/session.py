"""SparkSession factory tuned for the crawl engine.

Design notes (100 TB / 1000-executor posture):
- AQE on: runtime coalescing + skew-join splitting backstops the explicit
  salting done in operators/politeness.py.
- Arrow on: every pandas UDF moves data as Arrow record batches.
- shuffle partitions default to 2x cores locally; on a real cluster set
  ``spark.sql.shuffle.partitions`` ~ 2-3x total cores (AQE coalesces down).
- Iceberg: if an iceberg-spark-runtime jar is on the classpath we register a
  hadoop catalog (``local``) so state tables use real Iceberg snapshots/MERGE.
  This sandbox has no Iceberg jar, so helix_spark.state.tables provides a
  parquet-backed snapshot catalog with the same atomic-commit semantics.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def iceberg_jar_available() -> bool:
    try:
        import pyspark

        jars = glob.glob(
            os.path.join(os.path.dirname(pyspark.__file__), "jars", "*iceberg-spark-runtime*")
        )
        return bool(jars)
    except Exception:
        return False


def get_spark(
    app_name: str = "helix-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → 2N shuffle partitions; AQE coalesces small ones.
        n = cpus if "*" in master else int(master.split("[")[1].rstrip("]")) if "[" in master else cpus
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "40000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # lz4 on serialized cached blocks: only SERIALIZED storage levels
        # are affected (the wave loop's heavy checkpoints, plans/crawl.py
        # _CKPT_LEVEL); deserialized caches ignore it.
        # Paired A/B on the 6M-URL scaling harness: compressed-serialized
        # ties deserialized at local[4] and beats it at local[16]
        # (BENCH/BASELINE.md round 5) — and at real-cluster RAM-per-core
        # the compact blocks are what avoids spill
        .config("spark.rdd.compress", "true")
        # v2 commits move task output at task-commit time instead of a
        # serial driver-side rename pass at job commit — the crawl's
        # partitioned appends produce O(ranges × buckets) leaf files whose
        # rename pass was on the wave-commit critical path
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    if iceberg_jar_available() and warehouse:
        builder = (
            builder.config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", warehouse)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
