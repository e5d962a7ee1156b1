"""SparkSession factory tuned for the target: correctness at small SF
locally, efficiency at 100 TB on a real cluster.

Local mode is a single JVM; on a cluster the same settings hold except
memory sizing. AQE is always on so runtime stats drive partition
coalescing, skew-join splitting, and join-strategy demotion.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "gridmr_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned session.

    Settings rationale (scale posture, SURVEY.md §7.1 step 7):
    - AQE + coalescePartitions + skewJoin: runtime re-planning is the main
      defense at 100 TB (skewed keys, misestimated join sides).
    - shuffle.partitions defaults to cores locally; on a real cluster AQE's
      coalescing makes the initial number mostly irrelevant as long as it is
      high enough, so production would set it ~2-3x total cores.
    - Arrow enabled: every pandas_udf / toPandas crossing is vectorized.
    - UTC session timezone: deterministic timestamp semantics (and parity
      with the DuckDB oracle, which is TZ-naive).
    - maxPartitionBytes 128m: the scan-side split size (replaces the
      reference's client-side line-safe splitter, tools/gridmr_submit.py:22-54).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # BLAS thread discipline for Python workers (guide §4): every worker
    # process inherits this env via the JVM. Without it, N concurrent
    # pandas-UDF tasks each spin an ncpus-wide OpenBLAS pool (N*ncpus
    # threads) and small batched GEMMs spend more time in thread handoff
    # than math — measured 0.1 s vs up to 4.3 s run-to-run for the same
    # (94k, 64) @ (64, 64) IDCT under oversubscription. Task-level
    # parallelism comes from Spark; per-task math stays single-threaded.
    # setdefault so an operator explicitly tuned for threaded BLAS (or a
    # cluster deployment) can still override from the outside.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Before the JVM starts: put the worker bootstrap on future Python
    # workers' PYTHONPATH (it stops each task re-reading pyspark.zip and
    # the Spark jar on CPython < 3.13) and make a protobuf runtime
    # importable so the transformWithStateInPandas state server can run.
    # The protobuf part is a no-op when protobuf is properly installed or
    # no vendored runtime exists.
    from gridmr_spark.compat.pbshim import ensure_protobuf

    ensure_protobuf()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
