"""SparkSession factory.

Defaults are tuned for the test harness (local[N], single JVM) but every
setting is the one you'd want on a real cluster too: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), UTC session time
zone (oracle comparability), Arrow enabled for the Pandas-UDF slow path.
Arrow also carries the driver-built frames (``store.local_frame``) into
the JVM as local relations.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "grafeo_memory_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster, drop ``master`` and let spark-submit supply it;
    nothing else here is local-mode specific.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # preferSortMergeJoin stays at Spark's true (r13 A/B: false tied)
        # The runtime-safe SHJ alternative — AQE's
        # maxShuffledHashJoinLocalMapThreshold SMJ→SHJ conversion from
        # measured partition sizes — was A/B'd r13 (interleaved, 14
        # rows, 0 vs 64m) and REJECTED: sum of mins 33.09 s vs 33.47 s
        # with the largest movers (embedding_near_dup 3.43→3.87,
        # lm_perplexity 1.68→2.04) favoring off. Left at the Spark
        # default (0 = off); table in OPTIMIZATION_r13.md.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata's events.ts is parquet TIMESTAMP(NANOS) which Spark
        # has no native type for; read it as a long of epoch-nanoseconds
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if master or not os.environ.get("SPARK_MASTER"):
        builder = builder.master(master or f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
