"""SparkSession builder with the engine's standard configuration.

Centralizes configs every entrypoint (tests, bench, driver entry)
needs; sized for local[N] here but each knob is chosen for cluster
scale (AQE handles skew/coalescing at 1000 executors the same way).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _positive_int_env(name: str, default: int) -> int:
    """``name`` from the environment as a positive int, or ``default``
    when it is unset, empty, malformed or not positive — a bad knob
    keeps the default rather than failing session start."""

    try:
        value = int(os.environ.get(name, default))
    except ValueError:
        return default
    return value if value > 0 else default


def build_session(
    app_name: str = "declarative-dataflow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    cpus = _positive_int_env("SPARK_GRAFT_CPUS", 32)
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or _positive_int_env(
        "SPARK_SHUFFLE_PARTITIONS", cpus
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # The driver's testdata parquet carries TIMESTAMP(NANOS) which
        # Spark has no native type for; read as long and convert in the
        # table loaders.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # NOTE on marathon sessions: ContextCleaner reaps localCheckpoint
    # scratch blocks only when a DRIVER GC enqueues their weak refs.
    # We deliberately do NOT set spark.cleaner.periodicGC.interval: a
    # GC landing MID-QUERY sprays 'non-existent accumulator' errors
    # for completed-plan metrics (observed; see bench.py). Marathon
    # runners (bench.py, oracle_check.py) instead force one driver GC
    # BETWEEN queries, when no tasks are in flight.
    if rocksdb_state:
        # Spill streaming state off-heap: at cluster scale (millions of
        # keys per partition for LWW/dedup state) the default HDFS-backed
        # in-memory store OOMs; RocksDB keeps the working set on local
        # disk with changelog checkpointing.
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def use_rocksdb_state(spark: SparkSession) -> None:
    """Switch an existing session's streaming state store to RocksDB —
    the provider is read per-query at start, so this affects queries
    started afterwards."""

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
