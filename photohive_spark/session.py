"""SparkSession factory with scale-tuned defaults.

Single place where the engine's Spark configuration lives, so tests, bench,
and spark-submit drivers all get the same plan-shaping knobs:

- AQE on (runtime re-plan, skew-join mitigation, partition coalescing) —
  at 100 TB the static plan is always wrong somewhere;
- Arrow transport on for every pandas/Arrow UDF, with a bounded batch size
  so wide token arrays don't blow the Python-worker heap;
- shuffle partitions sized for the local harness but overridable (a real
  1000-executor run sets this to ~2-4x total cores via spark-submit --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT_CONFIG, EngineConfig


def get_spark(app: str = "photohive_spark",
              master: str | None = None,
              cfg: EngineConfig = DEFAULT_CONFIG,
              extra: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{cpus}]")
        # --- adaptive execution: runtime skew handling + shuffle sizing ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Arrow transport for every Python stage (mapInArrow/pandas) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(cfg.arrow_batch_rows))
        # bytes cap slices a batch early when token arrays are wide, so a
        # large row cap (good for length-grouped kernel batching) cannot
        # blow the Python-worker heap on long-doc corpora
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                cfg.arrow_batch_bytes)
        # --- shuffle sizing; production overrides via --conf ---
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        # parquet scan split size (r7): parameterised via env. The local
        # default (16m) splits the harness's small multi-row-group
        # fixture tables (e.g. a 128 MB lineitem) across the 32 local
        # cores instead of 1-2 tasks; a real cluster scanning 100 TB
        # wants 128m-1g splits (guide §6 — fewer, larger map tasks) and
        # sets SPARK_GRAFT_MAX_PARTITION_BYTES or --conf accordingly.
        # Split granularity is bounded by parquet row groups either way.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
