"""SparkSession factories with scale-tuned defaults.

Single place where the engine's Spark configuration lives
(``engine_conf``), so tests, bench (``get_spark``, which adds a local
master) and spark-submit jobs (``job_spark``, where submitted confs win)
all get the same plan-shaping knobs:

- AQE on (runtime re-plan, skew-join mitigation, partition coalescing) —
  at 100 TB the static plan is always wrong somewhere;
- Arrow transport on for every pandas/Arrow UDF, with a bounded batch size
  so wide token arrays don't blow the Python-worker heap;
- shuffle partitions sized for the local harness but overridable (a real
  1000-executor run sets this to ~2-4x total cores via spark-submit --conf);
- a generated-code cache larger than the pipeline's working set, so a
  query shape that repeats (a benchmark pass, a streaming micro-batch, a
  connected-components round) compiles its Java once per JVM. Spark's
  default LRU of 100 classes never hits on ``curation``, whose passes
  each generate ~150 classes in the same order: on a 4-core VM every
  pass after the first recompiled 146-147 classes (1.4-2.1 s of Janino,
  9-26 s of C1/C2 JIT); with the cache below it compiles 0-3.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT_CONFIG, EngineConfig


def engine_conf(cfg: EngineConfig = DEFAULT_CONFIG) -> dict[str, str]:
    """The engine's plan-shaping Spark confs — what every session running
    this package should get, local harness or cluster."""
    return {
        # --- adaptive execution: runtime skew handling + shuffle sizing ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- Arrow transport for every Python stage (mapInArrow/pandas) ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            str(cfg.arrow_batch_rows),
        # bytes cap slices a batch early when token arrays are wide, so a
        # large row cap (good for length-grouped kernel batching) cannot
        # blow the Python-worker heap on long-doc corpora
        "spark.sql.execution.arrow.maxBytesPerBatch": cfg.arrow_batch_bytes,
        # --- shuffle sizing; production overrides via --conf ---
        "spark.sql.shuffle.partitions": str(cfg.shuffle_partitions),
        # --- generated-code cache. The size is a static SQL conf, read
        # once per JVM, so it is set before the first query.
        # Working sets measured against the default of 100 entries: a
        # cold curation pass compiles 132-157 classes, the 71
        # __spark_entry__ queries at sf0.01 642 and features_images 24
        # (no change there).
        # The stage id in a class name gives identical code in two plans
        # two cache keys: with it, curation passes 2-4 compiled 15 more
        # classes and its prefix ladder 54; without it 2 and 26. The id
        # stays in the generated code's comment and in explain()'s
        # ``*(n)``.
        "spark.sql.codegen.cache.maxEntries": "2000",
        "spark.sql.codegen.useIdInClassName": "false",
    }


def get_spark(app: str = "photohive_spark",
              master: str | None = None,
              cfg: EngineConfig = DEFAULT_CONFIG,
              extra: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a local-harness SparkSession: ``master`` (default
    local[$SPARK_GRAFT_CPUS]) with the engine's confs, then ``extra``
    over them."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app).master(master or f"local[{cpus}]")
    # harness-only: no progress bar, the UI only when $SPARK_UI asks,
    # and a 16m scan split, which spreads the harness's small
    # multi-row-group fixture tables (e.g. a 128 MB lineitem) across the
    # local cores instead of 1-2 tasks. A cluster job keeps Spark's 128 MB
    # split: fewer, larger map tasks.
    harness = {"spark.ui.showConsoleProgress": "false",
               "spark.ui.enabled": os.environ.get("SPARK_UI", "false"),
               "spark.sql.files.maxPartitionBytes":
                   os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")}
    for k, v in {**engine_conf(cfg), **harness, **(extra or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def job_spark(app: str, cfg: EngineConfig = DEFAULT_CONFIG) -> SparkSession:
    """The SparkSession of a spark-submit job: the engine's confs wherever
    the submitted SparkConf (``--conf``, spark-defaults.conf) leaves them
    unset. The master and every submitted value are the submitter's."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()     # so SparkConf() reads the JVM's
    submitted = SparkConf()
    builder = SparkSession.builder.appName(app)
    for k, v in engine_conf(cfg).items():
        if not submitted.contains(k):
            builder = builder.config(k, v)
    return builder.getOrCreate()
