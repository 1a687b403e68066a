"""SparkSession builder with the engine's scale-hygiene defaults.

Every entry point (tests, bench, spark-submit job, driver contract) goes
through :func:`get_spark` so AQE / Arrow / shuffle sizing are uniform.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "semlink",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the local SparkSession.

    On a real cluster this builder is bypassed by ``spark-submit`` confs;
    everything set here is safe to override externally.
    """
    if cores is not None:
        master = f"local[{cores}]"
    else:
        master = os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic timestamps vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # scale hygiene: AQE coalesces post-shuffle partitions and splits
        # skewed join partitions at runtime (SURVEY §4.2)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # NOTE (round 6, measured negative result): lowering
        # spark.sql.adaptive.coalescePartitions.minPartitionSize to
        # 64k to spread CPU-dense small-byte shuffles was A/B'd and
        # is a net wash — it buys ~0.9 s on the IVF cell self-join but
        # costs comparable task-scheduling overhead on multi-stage
        # small queries (rl_golden_record +0.4 s, rl_meta_blocking
        # +0.5-2 s). CPU-dense operators that need guaranteed fan-out
        # use an explicit repartition instead (ops.spread, and the
        # cell-keyed one in cosine_near_dup_edges_ivf).
        # Arrow transport for the two pandas-UDF kernels (SURVEY §2.7)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # keep the driver lean; we never collect anything big. In
        # local[N] the driver JVM IS the executor (N task threads +
        # Arrow batches + localCheckpoint blocks share one heap), so
        # size it for that; a real cluster sizes executors separately
        # and overrides via spark-submit. At most a third of RAM: the
        # JVM's resident size runs well past its heap.
        .config("spark.driver.memory", os.environ.get(
            "SEMLINK_DRIVER_MEM", f"{min(16 << 30, ram // 3) >> 20}m"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
