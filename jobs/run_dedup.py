#!/usr/bin/env python
"""spark-submit entry point for corpus deduplication — the end-to-end
production composition:

  docs -> MinHash-LSH candidate pairs (banded, never all-pairs)
       -> exact-Jaccard verify
       -> connected components (near-dup clusters)
       -> keep each cluster's min-id representative + all singletons
       -> RESUMABLE bucketed write of the cleaned corpus (lineage
          manifests; re-running skips completed buckets)

Usage:

  zip -r photohive_spark.zip photohive_spark
  spark-submit --py-files photohive_spark.zip jobs/run_dedup.py \\
      --docs /path/to/documents_parquet --output /path/to/clean \\
      [--threshold 0.9] [--hash fast] [--k 3] [--max-bucket-size 1024] \\
      [--n-buckets 64]

``--hash fast`` (default) hashes words with xxhash64 for 10^12-doc
corpora; ``poly`` is the DuckDB-oracle-parity hash. Either way the
MinHash signatures are one shuffle-free Arrow stage. Verified pairs are
exact either way (the string-Jaccard verify stage is shared). A re-run
reuses the ``--pairs-dir`` pairs (lineage.checkpointed) if they were made
with this run's parameters and corpus (docs path + row count), and fails
with ValueError if not. Prints one JSON line with run totals.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True,
                    help="parquet dir with (doc_id, text, ...) columns")
    ap.add_argument("--output", required=True)
    ap.add_argument("--threshold", type=float, default=0.9)
    ap.add_argument("--hash", choices=["fast", "poly"], default="fast")
    ap.add_argument("--k", type=int, default=3)
    ap.add_argument("--max-bucket-size", type=int, default=1024)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--pairs-dir", default=None,
                    help="optional parquet dir for the verified near-dup "
                         "pairs: written on first run, REUSED on resume — "
                         "so a restart skips the expensive LSH+verify "
                         "stage, not just the output write")
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from photohive_spark import dedup, lineage
    from photohive_spark.session import job_spark

    spark = job_spark("photohive-dedup")
    t0 = time.time()
    docs = spark.read.parquet(args.docs) \
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    n_docs = docs.count()

    params = {"threshold": args.threshold, "k": args.k, "hash": args.hash,
              "max_bucket_size": args.max_bucket_size,
              "docs": args.docs, "n_docs": n_docs}
    pairs, pairs_reused = lineage.checkpointed(
        spark, args.pairs_dir, params, lambda: dedup.minhash_lsh_pairs(
            docs, threshold=args.threshold, k=args.k,
            max_bucket_size=args.max_bucket_size, hash_fn=args.hash))
    n_pairs = pairs.count()

    drop = dedup.near_dup_drops(pairs, "doc_id")
    n_drop = drop.count()
    clean = docs.join(drop, on="doc_id", how="left_anti")

    entries = lineage.run_resumable(spark, clean, args.output,
                                    key_col="doc_id",
                                    n_buckets=args.n_buckets)
    done = lineage.completed_buckets(args.output)
    print(json.dumps({
        "n_docs": n_docs, "near_dup_pairs": n_pairs,
        "pairs_reused": pairs_reused,
        "docs_dropped": n_drop, "docs_kept": n_docs - n_drop,
        "buckets_run": len(entries), "buckets_done": len(done),
        "wall_s": round(time.time() - t0, 2),
        "docs_per_s": round(n_docs / max(1e-9, time.time() - t0), 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
