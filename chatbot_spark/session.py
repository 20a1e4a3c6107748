"""SparkSession factory tuned for this engine.

Mirrors the reference's storage-level knobs (zstd compression, ~128 MB
target file size — src/tools/load.py:27 in the reference DDL) with their
Spark equivalents, and enables the Catalyst/AQE features every operator
here relies on (partition pruning, adaptive skew handling, Arrow UDFs).

Local mode is a test harness only; the confs are chosen so the same plans
scale to a multi-executor cluster (shuffle partitions sized by cores,
AQE coalescing for the 100 TB case).

Local masters start their Python workers from ``chatbot_spark.worker_daemon``
(``spark.python.daemon.module``). Spark's worker ``PYTHONPATH`` puts
``pyspark.zip``, the py4j zip and the spark-core jar ahead of site-packages,
and pyspark's worker calls ``importlib.invalidate_caches()`` for every task,
which makes each zipimporter re-read its archive before any kernel runs
(perfbench ``retrieve`` read 28.4 -> 44.5 items/s without the re-reads, on
a 4-core host). The daemon drops those archives when the directory install
holds the same pyspark, so workers import the driver's pyspark files.
``python -m`` must find the daemon module in a worker started from any
working directory, so the engine root goes first on
``spark.executorEnv.PYTHONPATH`` (after it, any value the caller passed).
Other masters keep Spark's own daemon and paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "chatbot_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Honors SPARK_GRAFT_CPUS for local parallelism (driver contract).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (coalesce/skew-split) the output partitioning of
        # CACHED plans too (default false). Every iterative operator here
        # persists its adjacency/state; with the default, those cached
        # stages keep their full pre-AQE partition count and every round
        # re-reads N near-empty cache partitions (measured r13: 64-task
        # stages per CC round; mixed_edge_batch_components 17.9→13.0 s,
        # neardup_clusters_exact 20.1→11.9 s, web_curation 13.8→6.1 s
        # with this on). Partitioning stays bytes-derived (AQE advisory
        # size), so the same plans keep full parallelism at cluster scale.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # reference table uses zstd compression (load.py:27); parquet analog
        .config("spark.sql.parquet.compression.codec", "zstd")
        # 128 MB target splits mirror the reference's TABLET_SIZE=134217728
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # testdata events.parquet uses TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in io.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are naive TIMESTAMP(MICROS); treat stored
        # micros as epoch micros (TIMESTAMP_LTZ) like the UTC DuckDB oracle
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # RocksDB state store for every streaming query: state spills to
        # local disk instead of living on the JVM heap (the default
        # HDFS-backed provider is memory-resident) — at 100 TB/day the
        # watermark-horizon state of the dedup/join/session operators must
        # not be bounded by executor heap. Bundled rocksdbjni, no extra dep.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # changelog checkpointing: per-batch uploads ship the RocksDB WAL
        # delta, not a full snapshot — commit cost O(changed keys)
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    if master.split("[")[0] == "local":
        conf.setdefault("spark.python.daemon.module", "chatbot_spark.worker_daemon")
        path = (_ENGINE_ROOT, conf.get("spark.executorEnv.PYTHONPATH"))
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(p for p in path if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
