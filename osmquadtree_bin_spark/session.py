"""SparkSession factory tuned for this engine.

Arrow is enabled everywhere (all custom kernels are pandas/Arrow UDFs —
BASELINE.json ``input_hint``: no per-row Python). AQE is on so skewed tile
joins get runtime splitting; no shipped path salts its joins. In production the
warehouse is an Iceberg catalog; in this sandbox (no Iceberg runtime jar) the
same layout is written as hive-style partitioned parquet, which preserves the
partition-pruning behaviour the engine relies on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "osmquadtree-bin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """``extra_conf`` lets callers (e.g. bench.py's local-cluster scaling
    mode) set executor memory / JVM options; in plain local mode executors
    live in the driver JVM and those keys are inert."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The JVM JIT refuses methods > 8000 bytecode bytes
        # (DontCompileHugeMethods); Spark's default hugeMethodLimit (65535)
        # happily emits whole-stage methods the JIT then interprets. The
        # 18-level quadtree CASE fused with its projection crosses 8K and ran
        # 10x slower until capped here: 24.2s -> 2.4s on the same stage at
        # local[32] (Spark falls back to per-operator codegen, which splits
        # into JIT-able methods).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Constraint propagation substitutes alias chains into inferred
        # isnotnull constraints EXPONENTIALLY: any join above the deep
        # qt-expression chain (tile assignment, parent_highway) made the
        # optimizer hang for minutes and OOM the driver. Known Spark
        # pathology (see SPARK-17733 lineage); the inferred filters buy us
        # nothing on these plans.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # ParallelGC: G1 measurably anti-scales allocation-heavy codegen
        # stages in local mode (15s@16 threads vs 6s with ParallelGC on the
        # same stage) — throughput GC fits a batch engine
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.io.tmpdir=/tmp -XX:+UseParallelGC",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
