"""Per-partition lineage + resumable checkpointed runs.

North_rule: jobs must be "resumable from checkpoint with per-partition
lineage + metrics". Iceberg gives this via snapshots; this module provides
the parquet-native equivalent (works anywhere, swaps to Iceberg by changing
the writer):

- work is split into ``n_buckets`` deterministic buckets of the key
  (``pmod(xxhash64(key), n)``) — the unit of commit/retry;
- each completed bucket writes its output under ``out/bucket=<k>/`` AND a
  manifest line ``_lineage/bucket_<k>.json`` recording rows, wall seconds,
  and per-Spark-partition row counts (the timing-macro analog of the
  reference, ``src/utilities.h:10-18``);
- resume = re-run only buckets without a manifest entry; output of a
  crashed half-written bucket is overwritten (dynamic partition overwrite),
  so the final table is exactly-once per bucket.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


def bucket_of(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — unlike
    os.path.exists this works for hdfs:// and s3a:// paths (jobs that
    checkpoint to the same filesystem as their output must detect the
    checkpoint there, not on the driver's local disk)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def hadoop_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text file through Hadoop FS (file://, hdfs://,
    s3a:// — wherever the data itself was written)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def hadoop_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file through Hadoop FS (py4j cannot mutate Java
    byte[] buffers in place, so delegate the stream drain to commons-io,
    which ships on Spark's classpath)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def completed_buckets(out_dir: str) -> set[int]:
    mdir = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for f in os.listdir(mdir):
        if f.startswith("bucket_") and f.endswith(".json"):
            done.add(int(f[len("bucket_"):-len(".json")]))
    return done


def run_resumable(spark: SparkSession, df: DataFrame, out_dir: str,
                  key_col: str = "doc_id", n_buckets: int = 8,
                  fail_after: int | None = None,
                  buckets_per_wave: int | None = None,
                  stage_accs: dict | None = None) -> list[dict]:
    """Write ``df`` to ``out_dir`` partitioned by bucket, resumably.

    All missing buckets of a wave are computed in ONE Spark action:
    ``filter(bucket in wave)`` + ``write.partitionBy('bucket')`` with
    dynamic partition overwrite. The upstream plan (feature extraction,
    joins, ...) therefore runs ONCE per wave — not once per bucket, which
    at --n-buckets 1024 would re-scan the input ~1024 times (the r1 bug:
    a bucket filter above a Python map stage cannot be pushed below it).

    ``buckets_per_wave`` bounds how much work a mid-wave crash can lose
    (default: every missing bucket in one wave — max throughput; set it
    to O(10) on flaky clusters for finer-grained commit points).
    ``fail_after`` (test hook) commits that many buckets, then raises.
    ``stage_accs`` maps stage names to Spark accumulators (e.g. the
    engine's kernel-seconds accumulator); each wave's manifest entries
    record the per-stage deltas — the timing-macro analog of the
    reference (``src/utilities.h:10-18``).

    Returns the manifest entries written this run.
    """
    # reject reserved column BEFORE any side effects (meta.json must never
    # record a pre-rename schema), and case-insensitively — Spark's default
    # resolution would let withColumn('bucket', ...) clobber a caller's
    # 'Bucket' column
    if any(c.lower() == "bucket" for c in df.columns):
        raise ValueError(
            "input already has a 'bucket' column (any case) — it is "
            "reserved for the partition key (rename the caller's column "
            "before run_resumable)")
    os.makedirs(os.path.join(out_dir, "_lineage"), exist_ok=True)
    # pin n_buckets for the lifetime of this output dir: bucket membership
    # pmod(xxhash64, n) changes with n, so resuming under a different n
    # would silently drop and duplicate rows
    meta_path = os.path.join(out_dir, "_lineage", "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            recorded = json.load(fh)["n_buckets"]
        if recorded != n_buckets:
            raise ValueError(
                f"{out_dir} was started with n_buckets={recorded}; resuming "
                f"with n_buckets={n_buckets} would corrupt bucket membership")
    else:
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            # schema recorded so read_result can return a typed empty
            # DataFrame when every committed bucket is zero-row (zero-row
            # buckets write no partition directory)
            json.dump({"n_buckets": n_buckets,
                       "schema_json": df.schema.json()}, fh)
        os.replace(tmp, meta_path)

    done = completed_buckets(out_dir)
    missing = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        waves = [missing[:fail_after], missing[fail_after:]]
    elif buckets_per_wave:
        waves = [missing[i:i + buckets_per_wave]
                 for i in range(0, len(missing), buckets_per_wave)]
    else:
        waves = [missing]
    waves = [w for w in waves if w]

    staged = df.withColumn("bucket", bucket_of(key_col, n_buckets))
    written = []
    for wave in waves:
        t0 = time.time()
        acc0 = {n: a.value for n, a in (stage_accs or {}).items()}
        part = staged.filter(F.col("bucket").isin([int(b) for b in wave]))
        (part.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(out_dir))
        write_s = time.time() - t0
        stage_s = {n: round(a.value - acc0[n], 3)
                   for n, a in (stage_accs or {}).items()}

        # per-partition metrics from what was just committed (output-side
        # read: proportional to the wave's OUTPUT, pruned to its partitions).
        # An all-empty wave writes no partition dirs (only _SUCCESS), and
        # spark.read.parquet on a file-less dir cannot infer a schema —
        # commit rows=0 manifests instead of crashing.
        t1 = time.time()
        if any(os.path.isdir(os.path.join(out_dir, f"bucket={int(b)}"))
               for b in wave):
            out = spark.read.parquet(out_dir).where(
                F.col("bucket").isin([int(b) for b in wave]))
            per_part = (out.groupBy("bucket",
                                    F.spark_partition_id().alias("pid"))
                        .count().collect())
        else:
            per_part = []
        metrics_s = time.time() - t1
        by_bucket: dict[int, list] = {int(b): [] for b in wave}
        for r in per_part:
            by_bucket[int(r["bucket"])].append(r)

        wave_wall = round(time.time() - t0, 3)
        for b in wave:
            rows_b = sum(r["count"] for r in by_bucket[int(b)])
            entry = {
                "bucket": int(b),
                "rows": rows_b,
                # wall_s is the WAVE wall (buckets of a wave commit
                # together); wave fields make the grouping explicit
                "wall_s": wave_wall,
                "wave_buckets": [int(x) for x in wave],
                "stage_s": {"write_s": round(write_s, 3),
                            "metrics_s": round(metrics_s, 3), **stage_s},
                "partitions": {str(r["pid"]): r["count"]
                               for r in by_bucket[int(b)]},
                "committed_at_unix": int(time.time()),
            }
            tmp = os.path.join(out_dir, "_lineage", f".bucket_{b}.json.tmp")
            final = os.path.join(out_dir, "_lineage", f"bucket_{b}.json")
            with open(tmp, "w") as fh:
                json.dump(entry, fh)
            os.replace(tmp, final)  # atomic commit of the bucket
            written.append(entry)
        if fail_after is not None and len(written) >= fail_after:
            raise RuntimeError(f"simulated crash after {fail_after} buckets")
    return written


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back only committed buckets (a zero-row bucket has a manifest
    but no partition directory — skipped; if ALL committed buckets are
    empty, returns a typed empty DataFrame from the recorded schema)."""
    done = sorted(completed_buckets(out_dir))
    paths = [p for p in (os.path.join(out_dir, f"bucket={b}") for b in done)
             if os.path.isdir(p)]
    if not paths:
        import pyspark.sql.types as T
        with open(os.path.join(out_dir, "_lineage", "meta.json")) as fh:
            schema_json = json.load(fh).get("schema_json")
        if schema_json is None:
            # meta.json written before schema_json existed: no partition
            # dirs and no recorded schema -> nothing to type the empty
            # result with; a clear error beats a KeyError.
            raise ValueError(
                f"{out_dir}: all committed buckets are empty and the "
                f"legacy meta.json has no 'schema_json' — re-run the "
                f"pipeline (new manifests record the schema) or read a "
                f"non-empty output")
        schema = T.StructType.fromJson(json.loads(schema_json))
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*paths)


def lineage_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """The lineage manifest as a DataFrame (bucket, rows, wall_s, ...)."""
    mdir = os.path.join(out_dir, "_lineage")
    entries = []
    for b in sorted(completed_buckets(out_dir)):
        with open(os.path.join(mdir, f"bucket_{b}.json")) as fh:
            e = json.load(fh)
        entries.append((e["bucket"], e["rows"], e["wall_s"],
                        e["committed_at_unix"]))
    return spark.createDataFrame(
        entries, "bucket int, rows long, wall_s double, committed_at_unix long")
