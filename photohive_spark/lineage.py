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

All resume state (manifests, ``meta.json``, :func:`checkpointed` stages,
:func:`pin`-ned settings) goes through the Hadoop FileSystem the data is
written to, so resume works on plain paths and file://, hdfs://, s3a://.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import closing

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


def bucket_of(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))


class _Store:
    """Small files through a private Hadoop FileSystem without checksums
    (Spark's writers share the cached instance; a stale local ``.crc``
    fails the next read). Close it: s3a instances own thread pools."""

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark._jvm
        self._path = jvm.org.apache.hadoop.fs.Path   # one py4j lookup
        self._io = jvm.org.apache.commons.io.IOUtils
        self._fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
            self._path(root).toUri(), spark._jsc.hadoopConfiguration())
        self._fs.setWriteChecksum(False)
        self._fs.setVerifyChecksum(False)

    def close(self) -> None:
        self._fs.close()

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def buckets(self, out_dir: str) -> set[int]:
        """The buckets whose manifest ``out_dir`` holds."""
        p = self._path(os.path.join(out_dir, "_lineage"))
        names = [str(s.getPath().getName()) for s in
                 (self._fs.listStatus(p) if self._fs.exists(p) else [])]
        return {int(n[len("bucket_"):-len(".json")]) for n in names
                if n.startswith("bucket_") and n.endswith(".json")}

    def read_json(self, path: str):
        stream = self._fs.open(self._path(path))
        try:
            # commons-io drains it JVM-side: py4j cannot fill a byte[]
            return json.loads(self._io.toString(stream, "UTF-8"))
        finally:
            stream.close()

    def write_text(self, path: str, content: str) -> None:
        """Write a hidden tmp file, then rename it into place: readers see
        all of the file or none (rename is atomic on local disk and HDFS)."""
        head, name = os.path.split(path)
        tmp = self._path(os.path.join(head, f".{name}.tmp"))
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        if not self._fs.rename(tmp, self._path(path)):
            raise OSError(f"could not commit {path} (does it exist?)")


def hadoop_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text file next to the data, on any Hadoop FS."""
    with closing(_Store(spark, path)) as st:
        st.write_text(path, content)


def _check_params(st: _Store, path: str, params: dict, what: str) -> None:
    recorded = st.read_json(path) if st.exists(path) else None
    if recorded != params:
        raise ValueError(
            f"{what} was made with {recorded}; this run wants {params} — "
            f"delete it or match the parameters")


def pin(spark: SparkSession, path: str, params: dict) -> None:
    """Record ``params`` at ``path`` on first use; on a later use raise
    ValueError if they differ (settings fixed for the life of an output)."""
    with closing(_Store(spark, path)) as st:
        if st.exists(path):
            _check_params(st, path, params, path)
        else:
            st.write_text(path, json.dumps(params))


def checkpointed(spark: SparkSession, path: str | None, params: dict,
                 build) -> tuple[DataFrame, bool]:
    """``(df, reused)``: ``build()``'s rows, computed once. With ``path``,
    reuse the committed parquet there if it was made with ``params``, else
    write ``build()`` and ``params`` there; other (or no) recorded params
    raise ValueError, as rows made under other parameters or from another
    corpus would mislabel the output. No path: ``build().localCheckpoint()``.
    """
    if path is None:
        return build().localCheckpoint(), False
    meta = os.path.join(path, "_params.json")
    with closing(_Store(spark, path)) as st:
        reused = st.exists(os.path.join(path, "_SUCCESS"))
        if reused:
            _check_params(st, meta, params, path)
        else:
            build().write.mode("overwrite").parquet(path)
            st.write_text(meta, json.dumps(params))
    return spark.read.parquet(path), reused


def completed_buckets(out_dir: str) -> set[int]:
    with closing(_Store(SparkSession.active(), out_dir)) as st:
        return st.buckets(out_dir)


def drop_done_buckets(df: DataFrame, out_dir: str, key_col: str,
                      n_buckets: int) -> DataFrame:
    """``df`` without the rows of committed buckets, for a job's input:
    run_resumable's bucket filter cannot be pushed below a Python stage,
    whose ``key_col`` must pass through unchanged."""
    done = completed_buckets(out_dir)
    missing = [b for b in range(n_buckets) if b not in done]
    if 0 < len(missing) < n_buckets:
        return df.where(bucket_of(key_col, n_buckets).isin(missing))
    return df


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
    mdir = os.path.join(out_dir, "_lineage")
    with closing(_Store(spark, out_dir)) as st:
        # pin n_buckets for the lifetime of this output dir: bucket
        # membership pmod(xxhash64, n) changes with n, so resuming under a
        # different n would silently drop and duplicate rows
        meta_path = os.path.join(mdir, "meta.json")
        if st.exists(meta_path):
            recorded = st.read_json(meta_path)["n_buckets"]
            if recorded != n_buckets:
                raise ValueError(
                    f"{out_dir} was started with n_buckets={recorded}; "
                    f"resuming with n_buckets={n_buckets} would corrupt "
                    f"bucket membership")
        else:
            # schema recorded so read_result can return a typed empty
            # DataFrame when every committed bucket is zero-row (zero-row
            # buckets write no partition directory)
            st.write_text(meta_path, json.dumps(
                {"n_buckets": n_buckets, "schema_json": df.schema.json()}))

        done = st.buckets(out_dir)
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

            # per-partition metrics from what was just committed
            # (output-side read: proportional to the wave's OUTPUT, pruned
            # to its partitions). An all-empty wave writes no partition
            # dirs (only _SUCCESS), and spark.read.parquet on a file-less
            # dir cannot infer a schema — commit rows=0 manifests instead
            # of crashing.
            t1 = time.time()
            if any(st.exists(os.path.join(out_dir, f"bucket={int(b)}"))
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
                st.write_text(os.path.join(mdir, f"bucket_{b}.json"),
                              json.dumps(entry))    # commits the bucket
                written.append(entry)
            if fail_after is not None and len(written) >= fail_after:
                raise RuntimeError(
                    f"simulated crash after {fail_after} buckets")
    return written


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back only committed buckets (a zero-row bucket has a manifest
    but no partition directory — skipped; if ALL committed buckets are
    empty, returns a typed empty DataFrame from the recorded schema)."""
    with closing(_Store(spark, out_dir)) as st:
        paths = [p for p in (os.path.join(out_dir, f"bucket={b}")
                             for b in sorted(st.buckets(out_dir)))
                 if st.exists(p)]
        if paths:
            return spark.read.parquet(*paths)
        schema_json = st.read_json(
            os.path.join(out_dir, "_lineage", "meta.json")).get("schema_json")
    if schema_json is None:
        # meta.json written before schema_json existed: no partition
        # dirs and no recorded schema -> nothing to type the empty
        # result with; a clear error beats a KeyError.
        raise ValueError(
            f"{out_dir}: all committed buckets are empty and the "
            f"legacy meta.json has no 'schema_json' — re-run the "
            f"pipeline (new manifests record the schema) or read a "
            f"non-empty output")
    import pyspark.sql.types as T
    schema = T.StructType.fromJson(json.loads(schema_json))
    return spark.createDataFrame([], schema)


def lineage_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """The lineage manifest as a DataFrame (bucket, rows, wall_s, ...)."""
    mdir = os.path.join(out_dir, "_lineage")
    with closing(_Store(spark, out_dir)) as st:
        entries = [st.read_json(os.path.join(mdir, f"bucket_{b}.json"))
                   for b in sorted(st.buckets(out_dir))]
    return spark.createDataFrame(
        [(e["bucket"], e["rows"], e["wall_s"], e["committed_at_unix"])
         for e in entries],
        "bucket int, rows long, wall_s double, committed_at_unix long")
