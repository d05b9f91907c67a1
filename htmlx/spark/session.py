"""SparkSession helpers tuned for the extraction workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(cores: int | None = None, app_name: str = "htmlx") -> SparkSession:
    """Build a local SparkSession with the engine's standard config.

    - AQE OFF (measured: AQE's query-stage materialization barrier +
      runtime re-planning cost ~40% aggregate throughput at 4-executor
      load on this pipeline — per-executor 6k -> 10-11k docs/s without
      it; see BENCH/BASELINE.md). The pipeline's skew risk is handled
      EXPLICITLY by the salted url-hash repartition, so AQE's skew-join
      mitigation adds nothing here. Join-heavy analytics rows opt in per
      query (entryqueries._with_aqe), where runtime re-planning can pay
      for itself.
    - Arrow transport on; small maxRecordsPerBatch (256) because rows carry
      multi-KB html payloads: bounds Python-worker memory AND L3 footprint
      (measured +31% fleet throughput vs 1024-row batches)
    - shuffle partitions ~ 2x cores so the salted repartition spreads work
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "false")
        # Pin the session zone: TIMESTAMP_NTZ -> TIMESTAMP casts otherwise
        # read the JVM-default zone, so epoch arithmetic (sessionization
        # gaps, streaming windows) would shift by the host's DST offset vs
        # the DuckDB oracle's pure wall-clock epoch_us.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", os.environ.get("HTMLX_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
