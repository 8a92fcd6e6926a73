#!/usr/bin/env python
"""spark-submit entry point for the feature-extraction backfill.

Usage (multi-executor cluster — the sandbox runs the same command with
--master local[N]):

  zip -r photohive_spark.zip photohive_spark
  spark-submit --py-files photohive_spark.zip \\
      --conf spark.sql.adaptive.enabled=true \\
      jobs/run_pipeline.py \\
      --tokens /path/to/tokens_parquet --output /path/to/features \\
      --n-buckets 1024 [--rebalance] [--min-tok 350] [--max-tok 120000000]

Resume is IMPLICIT: re-running the same command skips completed buckets
(atomic per-bucket manifests under <output>/_lineage/); n_buckets is
pinned by the output dir's meta.json — changing it on resume is rejected.
Per-partition lineage + wall metrics land in the manifest. Prints one
JSON line with run totals.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tokens", required=True,
                    help="parquet dir with the input_hint tokens table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--min-tok", type=int, default=0)
    ap.add_argument("--max-tok", type=int, default=120_000_000)
    ap.add_argument("--rebalance", action="store_true",
                    help="cost-aware repartition for long-tail n_tok skew")
    args = ap.parse_args()

    from photohive_spark import lineage
    from photohive_spark.engine import (extract_features_df,
                                        kernel_stage_accumulators)
    from photohive_spark.session import job_spark
    from photohive_spark.skew import rebalance_by_cost
    from photohive_spark.tokenize import validate_tokens

    spark = job_spark("photohive-extract")
    t0 = time.time()
    toks = spark.read.parquet(args.tokens)
    toks = validate_tokens(toks, args.min_tok, args.max_tok)
    # resume skips the feature kernels of committed buckets
    toks = lineage.drop_done_buckets(toks, args.output, "doc_id",
                                     args.n_buckets)
    if args.rebalance:
        toks = rebalance_by_cost(toks)
    kernel_acc = spark.sparkContext.accumulator(0.0)
    stage_accs = kernel_stage_accumulators(spark)
    feats = extract_features_df(toks, time_acc=kernel_acc,
                                stage_accs=stage_accs)
    entries = lineage.run_resumable(spark, feats, args.output,
                                    key_col="doc_id",
                                    n_buckets=args.n_buckets,
                                    stage_accs={"kernel_s": kernel_acc,
                                                **stage_accs})
    done = lineage.completed_buckets(args.output)
    rows = sum(e["rows"] for e in entries)
    print(json.dumps({
        "buckets_run": len(entries), "buckets_total": args.n_buckets,
        "buckets_done": len(done), "rows_this_run": rows,
        "wall_s": round(time.time() - t0, 2),
        "rows_per_s": round(rows / max(1e-9, time.time() - t0), 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
