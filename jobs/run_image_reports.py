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
manifests (re-run skips completed buckets). Prints one JSON line.
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

    import os

    import pyspark.sql.functions as F

    from photohive_spark import lineage, multimodal
    from photohive_spark.session import job_spark

    spark = job_spark("photohive-images")
    t0 = time.time()

    # pin --mode for the lifetime of the output dir: resuming a fake-mode
    # run with --mode real (or vice versa) would silently mix pseudo and
    # real features in one schema-identical table
    os.makedirs(os.path.join(args.output, "_lineage"), exist_ok=True)
    mode_path = os.path.join(args.output, "_lineage", "job_meta.json")
    if os.path.exists(mode_path):
        with open(mode_path) as fh:
            recorded = json.load(fh)["mode"]
        if recorded != args.mode:
            raise SystemExit(
                f"{args.output} was started with --mode {recorded}; "
                f"resuming with --mode {args.mode} would mix decode "
                f"semantics — delete the dir or match the mode")
    else:
        with open(mode_path, "w") as fh:
            json.dump({"mode": args.mode}, fh)

    media = spark.read.parquet(args.media) \
        .withColumn("media_id", F.col("media_id").cast("string")) \
        .where(F.col("kind") == "image")
    # resume optimization: a bucket filter above image_report's
    # mapInArrow cannot be pushed below it, so without this pre-filter a
    # resume would RE-DECODE the whole corpus just to write the missing
    # buckets. bucket_of is the same deterministic hash run_resumable
    # partitions by, computed on the pass-through media_id, so filtering
    # the input to missing buckets is exactly equivalent — and skips the
    # decode+FFT (the dominant cost) for completed ones.
    missing = [b for b in range(args.n_buckets)
               if b not in lineage.completed_buckets(args.output)]
    if 0 < len(missing) < args.n_buckets:
        media = media.where(
            lineage.bucket_of("media_id", args.n_buckets).isin(missing))
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
