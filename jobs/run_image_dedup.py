#!/usr/bin/env python
"""spark-submit entry point for IMAGE deduplication — the visual
counterpart of run_dedup.py, composing the r5 codec + pHash stack:

  media -> REAL decode -> 64-bit perceptual hash (image_phash,
           on_error=skip so corrupt payloads drop instead of killing
           a 10^12-row run)
        -> hamming-banded candidate pairs (pigeonhole over 8 bands,
           never all-pairs) + exact bit_count verify
        -> connected components (visual near-dup clusters)
        -> keep each cluster's min-id representative + all singletons
        -> RESUMABLE bucketed write of the cleaned media table

Usage:

  zip -r photohive_spark.zip photohive_spark
  spark-submit --py-files photohive_spark.zip jobs/run_image_dedup.py \\
      --media /path/to/media_parquet --output /path/to/clean \\
      [--max-hamming 6] [--bands 8] [--n-buckets 64] \\
      [--hashes-dir /path/to/phash_checkpoint] [--on-error skip]

``--hashes-dir`` checkpoints the decode+hash stage (the expensive pass:
every payload is decoded once) through lineage.checkpointed, like
run_dedup's --pairs-dir: a resumed run reuses it when the recorded
corpus (media path + row count) and --on-error match this run's, and
fails with ValueError when they differ. Prints one JSON line with run
totals.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--media", required=True,
                    help="parquet dir with MEDIA_SCHEMA columns "
                         "(media_id, payload, ...)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--max-hamming", type=int, default=6)
    ap.add_argument("--bands", type=int, default=8)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--hashes-dir", default=None,
                    help="optional parquet checkpoint for the computed "
                         "pHashes: written on first run, REUSED on "
                         "resume, so a restart skips re-decoding the "
                         "whole corpus")
    ap.add_argument("--on-error", choices=["fail", "skip"],
                    default="skip")
    ap.add_argument("--max-bucket-size", type=int, default=0,
                    help="hamming-band buckets wider than this switch "
                         "to star pairing (identical pHashes dominate "
                         "scraped corpora and make the exact band "
                         "self-join quadratic); 0 (default) = exact "
                         "banding — opt into the cap on dup-heavy "
                         "corpora, noting the star-pairing recall "
                         "caveat (r7 review: a nonzero default "
                         "silently changed pair topology vs prior runs)")
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from photohive_spark import dedup, lineage, multimodal
    from photohive_spark.session import job_spark

    spark = job_spark("photohive-image-dedup")
    t0 = time.time()
    media = spark.read.parquet(args.media) \
        .withColumn("media_id", F.col("media_id").cast("string"))
    n_media = media.count()

    params = {"media": args.media, "n_media": n_media,
              "on_error": args.on_error}
    hashes, hashes_reused = lineage.checkpointed(
        spark, args.hashes_dir, params, lambda: multimodal.image_phash(
            media, mode="real", on_error=args.on_error))
    n_hashed = hashes.count()

    pairs = dedup.hamming_pairs(hashes, "phash", "media_id",
                                max_hamming=args.max_hamming,
                                bands=args.bands, bits=64,
                                max_bucket_size=args.max_bucket_size or None) \
        .localCheckpoint()
    n_pairs = pairs.count()

    drop = dedup.near_dup_drops(pairs, "media_id")
    n_drop = drop.count()
    # restrict to rows that actually hashed: with on_error='skip',
    # undecodable payloads never reach the pair stage, and a plain
    # anti-join would silently RETAIN the corrupt rows in the cleaned
    # table while the summary calls them "dropped" — so drop them here
    clean = (media.join(hashes.select("media_id"), on="media_id",
                        how="left_semi")
             .join(drop, on="media_id", how="left_anti"))

    lineage.run_resumable(spark, clean, args.output,
                          key_col="media_id", n_buckets=args.n_buckets)
    done = lineage.completed_buckets(args.output)
    print(json.dumps({
        "n_media": n_media, "n_hashed": n_hashed,
        "undecodable_dropped": n_media - n_hashed,
        "hashes_reused": hashes_reused,
        "visual_near_dup_pairs": n_pairs,
        "media_dropped": n_drop, "media_kept": n_hashed - n_drop,
        "buckets_done": len(done), "wall_s": round(time.time() - t0, 2),
    }))


if __name__ == "__main__":
    main()
