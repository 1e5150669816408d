"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same confs are what we'd submit with
``spark-submit --py-files`` on a real cluster (AQE on, skew-join on, Arrow
on). Partition counts are parameterized so the bench harness can compare
``local[8]`` vs ``local[32]`` (the two-cluster-size scaling evidence).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def get_spark(
    master: str | None = None,
    app_name: str = "x5-ner-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting — required at 100 TB
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF boundary; bounded batches keep executor
        # memory flat regardless of document size
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # ANSI off: reference semantics are lenient (malformed → null/[])
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # applies only when get_spark starts the JVM: under spark-submit the
        # driver is already running, so pass --driver-memory there instead
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python-worker transport over unix domain sockets (Spark 4.1):
        # worker sockets are always node-local, so UDS is the right
        # transport on any cluster — fewer syscalls per Arrow batch, and it
        # avoids loopback-TCP stalls (observed on this sandbox kernel: a
        # worker wedged in tcp_recvmsg/sk_wait_data with 3.8 MB queued on
        # the JVM side during a 960k-page run; jstack + /proc/.../stack in
        # BENCH/BASELINE.md round-4 notes)
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _warm_icu_case_tables(spark)
    return spark


def _warm_icu_case_tables(spark: SparkSession) -> None:
    """One-task warmup of Spark 4's CollationAwareUTF8String static init.

    The first lower()/initcap() on NON-ASCII data triggers an ICU case-table
    build (~5-10 s). Under local[32] (or any wide stage) all tasks block on
    the class-init monitor and the first Cyrillic-touching job stalls ~70 s.
    Paying it once on a single task at session start removes the stampede;
    on a real cluster the same warmup runs one tiny task per executor
    (spark.range(numExecutors).repartition(numExecutors)). A session that
    cannot run this one-row job fails here, not at its first query."""
    if getattr(spark, "_x5_icu_warmed", False):
        return
    spark.createDataFrame([("Ёё",)], "s string").coalesce(1).select(
        F.lower("s"), F.upper("s"), F.initcap("s")
    ).collect()
    spark._x5_icu_warmed = True
