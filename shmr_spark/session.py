"""SparkSession factory tuned for the local[N] test harness while
remaining cluster-correct: every knob here is also what you'd set on a
1000-executor cluster (AQE on, sane shuffle partitions, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_mem() -> str:
    """SPARK_GRAFT_DRIVER_MEM if set, else a quarter of physical RAM
    clamped to [4g, 24g] (see the driver.memory comment below)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total_gib = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
        )
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(4, min(24, int(total_gib // 4)))}g"


def get_spark(
    app_name: str = "shmr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults honor the harness contract: ``local[$SPARK_GRAFT_CPUS]``
    (fallback ``local[*]``), shuffle partitions ≈ cores. On a real
    cluster the caller passes ``master=None`` with spark-submit confs
    and only the SQL-level settings below apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch size so mapInPandas over wide/binary rows
        # (multimodal blobs) can't build an unbounded batch in one
        # worker — the conf the multimodal module's memory contract
        # relies on (Spark default is 10000)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # a training_pipeline call makes ~220 classes; at 100 each warm call recompiled (~1.8 s)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        # in local mode the driver JVM IS the engine: every executor
        # thread's shuffle/sort state lives in this one heap. Sized
        # from the machine (quarter of RAM, clamped 4g–24g) rather
        # than a constant: the flat 8g of rounds 1–5 OOMed the
        # 1.8B-wedge triangle shuffle at the 10× corpus on the
        # 128 GiB harness box, while a flat 24g would refuse to start
        # on a 16 GB laptop. Cluster deployments ignore this:
        # spark-submit owns the memory confs.
        .config("spark.driver.memory", _default_driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Pin ``df``: the one place the engine cuts a frame's lineage.

    A frame is pinned when several consumers read it (both sides of a
    self-join, a count and a join, every pass of a multi-scan
    operator) and its sub-plan is the expensive part, or when an
    iterative loop would otherwise nest its plan one level per round.
    Later actions then read the computed rows instead of re-planning
    and re-running the sub-plan. A self-join whose two sides shuffle
    the same plan on the same keys needs no pin: Spark reuses one
    exchange for both.

    The pin is lazy: the first action over the frame computes and
    keeps it. Under AQE, building the frame already runs the shuffle
    stages beneath it.

    Where the rows are kept follows Spark's own deployment setting
    ``spark.checkpoint.dir``. Without it, the blocks stay on the
    executor that computed them (``localCheckpoint``), which is fast,
    but the loss of that executor fails the next action that reads
    them. With it, they are written to that directory (``checkpoint``)
    and survive executor loss, at the cost of one extra job per frame
    that recomputes the partitions to write them. Set it on a cluster.
    Because of that recompute, only deterministic frames are pinned.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
