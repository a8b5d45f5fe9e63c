"""SparkSession factory tuned for the sandbox (local[N]) while keeping
cluster-ready defaults (AQE, Arrow, sane shuffle-partition counts)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "pkd_tree_spark", cpus: int | None = None, shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # serialized RDD blocks (the DISK_ONLY staged build input) compress
        # with lz4: the stage write was disk-bound — measured 2x on the
        # whole 38.4M staged build at BOTH 4 and 16 cores (216->112s @4c,
        # 81->39s @16c). Shuffle/broadcast compression is already on by
        # default; this flag covers only storage-level-serialized blocks.
        .config("spark.rdd.compress", "true")
        # Janino class cache (static conf, LRU). One merge_insert -> reads
        # -> exact delete -> reads -> checkpoint -> COW insert/delete ->
        # load cycle needs ~100 distinct stage classes: at Spark's default
        # of 100 the LRU evicted each class before the next cycle reused it,
        # so every update call compiled 6-20 fresh classes and started
        # their stages interpreted. 1000 holds that working set ten times.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    _prewarm_python_workers(spark, cpus)
    return spark


def _prewarm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Fork the Python worker fleet once at session creation. The first
    Arrow-evaluated job of a session otherwise pays ~one fork + pandas/numpy
    import per core (measured: the first mapInPandas round of a kNN batch
    took 5.3s vs 0.8s warm on local[32]) — with spark.python.worker.reuse
    (default on) the workers then serve every later Python-boundary job.
    One trivial batch per core; guarded so repeated get_spark() calls on a
    live session don't re-run it."""
    try:
        if spark.conf.get("spark.pkd.prewarmed", "0") == "1":
            return
        def _ident(batches):
            for b in batches:
                yield b

        spark.range(0, cpus, 1, cpus).mapInPandas(_ident, "id long").count()
        spark.conf.set("spark.pkd.prewarmed", "1")
    except Exception:  # noqa: BLE001 — prewarming is best-effort
        pass
