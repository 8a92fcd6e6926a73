"""Session defaults that change how Spark runs, pinned by behaviour."""

import os

import pyspark.sql.functions as F


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (each is one generated class)."""
    m = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return m.METRIC_COMPILATION_TIME().getCount()


def test_repeated_queries_reuse_generated_code(spark):
    """A working set of ~150 distinct whole-stage-codegen queries, more
    than Spark's default cache of 100 classes, run twice in the same
    order: the second round must find every class in the cache. With
    the default LRU it misses every one and compiles ~150 again."""
    queries = [spark.range(4).select((F.col("id") * k + j).alias("v"))
               for k in range(2, 17) for j in range(10)]
    want = [[(i * k + j,) for i in range(4)]
            for k in range(2, 17) for j in range(10)]
    for q, w in zip(queries, want):             # round 1: cold
        assert [tuple(r) for r in q.collect()] == w
    before = _compiles(spark)
    for q, w in zip(queries, want):             # round 2: same order
        assert [tuple(r) for r in q.collect()] == w
    assert _compiles(spark) - before <= 5


def test_get_spark_conf_is_unchanged(spark):
    """get_spark(master=..., extra=...), the call perfbench and these
    tests make, still builds exactly the SparkConf it built before the
    engine confs were split out of it for spark-submit jobs."""
    want = {
        "spark.app.name": "photohive-tests",
        "spark.master": "local[4]",
        "spark.driver.memory": "6g",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "16384",
        "spark.sql.execution.arrow.maxBytesPerBatch": "64m",
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.files.maxPartitionBytes":
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        "spark.sql.codegen.cache.maxEntries": "2000",
        "spark.sql.codegen.useIdInClassName": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": os.environ.get("SPARK_UI", "false"),
    }
    conf = dict(spark.sparkContext.getConf().getAll())
    spark_set = ("spark.sql.artifact.isolation.enabled",   # by PySpark
                 "spark.sql.warehouse.dir")      # by the first catalog use
    got = {k: v for k, v in conf.items()
           if k.startswith(("spark.sql.", "spark.ui.")) and k not in spark_set}
    got.update({k: conf.get(k) for k in
                ("spark.app.name", "spark.master", "spark.driver.memory")})
    assert got == want


def test_job_spark_fills_in_unset_confs_only(tmp_path):
    """A spark-submit job's session gets the engine confs that the
    submission leaves unset, every ``--conf`` it passes wins, and the
    local harness's scan split does not leak into it."""
    import json
    import shutil
    import subprocess
    import sys

    import pytest

    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "show_conf.py"
    script.write_text(
        "import json\n"
        "from photohive_spark.session import job_spark\n"
        "s = job_spark('conf-probe')\n"
        "print(json.dumps({k: s.conf.get(k) for k in (\n"
        "    'spark.sql.codegen.cache.maxEntries',\n"
        "    'spark.sql.adaptive.enabled',\n"
        "    'spark.sql.execution.arrow.maxRecordsPerBatch',\n"
        "    'spark.sql.shuffle.partitions',\n"
        "    'spark.sql.files.maxPartitionBytes')}))\n"
        "s.stop()\n")
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYTHONPATH": os.pathsep.join(
               [root] + [p for p in os.environ.get("PYTHONPATH", "")
                         .split(os.pathsep) if p])}
    r = subprocess.run(
        [submit, "--master", "local[1]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=7",
         "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=512",
         str(script)],
        capture_output=True, text=True, timeout=300, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads([l for l in r.stdout.splitlines()
                      if l.startswith("{")][-1])
    assert got == {"spark.sql.codegen.cache.maxEntries": "2000",
                   "spark.sql.adaptive.enabled": "true",
                   "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
                   "spark.sql.shuffle.partitions": "7",
                   # Spark's 128 MB default: the harness's 16m split
                   # stays local
                   "spark.sql.files.maxPartitionBytes": "134217728b"}
