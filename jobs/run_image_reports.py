#!/usr/bin/env python
"""spark-submit entry point for the image-report backfill — the
reference's primary use case (image -> full 2-D report,
``get_full_report_data``, src/interface.c:28-93) at corpus scale.

Usage (multi-executor cluster — the sandbox runs the same command with
--master local[N]):

  zip -r photohive_spark.zip photohive_spark
  spark-submit --py-files photohive_spark.zip jobs/run_image_reports.py \\
      --media /path/to/media_parquet --output /path/to/reports \\
      [--mode real|fake] [--n-buckets 1024]

``--media`` must be MEDIA_SCHEMA-shaped parquet (media_id, kind, payload
binary, meta_*). ``--mode real`` decodes PNG payloads via the pure-stdlib
codec (png.py); ``fake`` exercises the full plumbing with the
deterministic pseudo-decode. Resume is implicit via lineage's per-bucket
manifests: a re-run decodes only the media of uncommitted buckets.
``--mode`` is pinned by lineage.pin for the life of the output; resuming
with the other mode fails with ValueError. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--media", required=True,
                    help="parquet dir with MEDIA_SCHEMA columns")
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", choices=["real", "fake"], default="real")
    ap.add_argument("--on-error", choices=["fail", "skip"],
                    default="fail",
                    help="skip = drop undecodable rows (scraped-corpus "
                         "production mode) instead of failing the job")
    ap.add_argument("--n-buckets", type=int, default=16)
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from photohive_spark import lineage, multimodal
    from photohive_spark.session import job_spark

    spark = job_spark("photohive-images")
    t0 = time.time()

    # pin --mode for the lifetime of the output dir: resuming a fake-mode
    # run with --mode real (or vice versa) would silently mix pseudo and
    # real features in one schema-identical table
    lineage.pin(spark, f"{args.output}/_lineage/job_meta.json",
                {"mode": args.mode})

    media = spark.read.parquet(args.media) \
        .withColumn("media_id", F.col("media_id").cast("string")) \
        .where(F.col("kind") == "image")
    # resume skips the decode+FFT (the dominant cost) of committed buckets
    media = lineage.drop_done_buckets(media, args.output, "media_id",
                                      args.n_buckets)
    reports = multimodal.image_report(media, mode=args.mode,
                                      on_error=args.on_error)
    entries = lineage.run_resumable(spark, reports, args.output,
                                    key_col="media_id",
                                    n_buckets=args.n_buckets)
    done = lineage.completed_buckets(args.output)
    rows = sum(e["rows"] for e in entries)
    print(json.dumps({
        "buckets_run": len(entries), "buckets_total": args.n_buckets,
        "buckets_done": len(done), "rows_this_run": rows,
        "wall_s": round(time.time() - t0, 2),
        "images_per_s": round(rows / max(1e-9, time.time() - t0), 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
