"""SparkSession factory with scale-oriented defaults.

Defaults target the 100 TB / 1000-executor design point while staying
correct on local[N]:

- AQE on (runtime coalescing of the rapidly-shrinking coarsened
  graphs + skew-join splitting for hub hosts — the distributed analog
  of the reference's `schedule(dynamic, 2048)`, louvain.hxx:594),
- Arrow exchange on (all engine UDFs are vectorized pandas/Arrow),
- shuffle partitions parameterized (sized to the data, not hardcoded).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "linkgraph-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else os.cpu_count() or 8
        shuffle_partitions = int(n)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # iterative algorithms re-plan hundreds of small jobs; keep the
        # optimizer fast and the UI quiet
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # the bounded LIMIT collects (serial.collect_bounded: membership,
        # vtot and warm-start frames; dense_ids) expect to SUCCEED;
        # default CollectLimit starts at 1 partition and rescans at 1,
        # 4, 16, ... — starting at the session's partition count makes
        # the common successful probe ONE job while still bounding the
        # first scan on huge inputs (parameterized, not host-tuned)
        .config("spark.sql.limit.initialNumPartitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
