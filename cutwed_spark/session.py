"""SparkSession factory with the engine's tuned defaults.

Single place where shuffle/AQE/Arrow knobs are set so tests, bench, and
the driver entry all run the same configuration (SURVEY.md §4: AQE on,
explicit partitioning, Arrow batches as the JVM->Python transfer unit —
the analog of the reference's host->device memcpy boundary,
/root/reference/src/cuTWED_core.h:394-404).

The generated-class cache is sized to hold a whole pipeline run, so a
warm ``run_pipeline`` in a long-lived session reuses the code the
previous run compiled instead of paying Janino again.

The engine keeps its state in parquet dirs and creates no catalog
table; ``spark.sql.warehouse.dir`` is set only so a deployment's own
managed tables land outside the working tree ($SPARK_GRAFT_WAREHOUSE).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow record batch: the unit the score UDF pads and chunks.
_ARROW_BATCH_ROWS = 2048


def get_spark(
    app_name: str = "cutwed-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to the core count —
    at cluster scale this should be ~2-3x total cores; callers override.
    """
    # One BLAS/OMP thread per Python worker: Spark tasks ARE the
    # parallelism; nested BLAS threading oversubscribes local[N].
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = (os.cpu_count() or 8) if inner in ("*", "") else int(inner)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(_ARROW_BATCH_ROWS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # One run_pipeline generates ~185 classes (measured 182-189 on
        # synth_corpus(500) at local[4]). Spark's default of 100 entries
        # cannot hold them, so every warm run would recompile them all;
        # 1000 holds ~5 runs. Static SQL conf: it must be set here,
        # before the session exists.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Managed catalog tables (a deployment's saveAsTable) live under
        # the warehouse dir; keep it off the working tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/cutwed-spark-warehouse"
            ),
        )
        # Scan-split size: the sandbox corpora are single parquet files
        # of tens of MB — at the 128m default the scan (and the shuffle
        # WRITE feeding the first repartition) runs single-task and
        # serializes the whole assemble stage behind one core. 16m
        # splits the file across cores (measured ~1.7x on cold
        # assemble). On a real cluster with TB-scale inputs raise this
        # back toward 128m via the env override — more splits than
        # cores is pure scheduler overhead there.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    # Shuffle on tmpfs when available: local[N] scoring shuffles GBs of
    # array payload; disk-backed spill serializes all cores behind one
    # device. On a real cluster this is per-node NVMe + network.
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        tmp = os.path.join(shm, "cutwed-spark-local")
        os.makedirs(tmp, exist_ok=True)
        builder = builder.config("spark.local.dir", tmp)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
