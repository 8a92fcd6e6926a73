#!/usr/bin/env python
"""spark-submit entry point for END-TO-END corpus curation — the full
training-data preparation pipeline in one resumable job, each stage one
of the engine's proven operators:

  docs -> quality gate   (text.quality_score composite >= --min-quality)
       -> exact dedup    (md5 digest, keep min-id per digest)
       -> near-dup       (MinHash-LSH banded pairs -> exact-Jaccard
                          verify -> connected components; keep each
                          cluster's min-id representative)
       -> decontaminate  (k-gram overlap vs --benchmark parquet, pooled
                          semantics; stage skipped when flag absent)
       -> boilerplate    (dup_span_stats: drop docs whose duplicated
                          5-gram span coverage exceeds --max-dup-frac;
                          catches template-heavy pages that share
                          fragments with MANY docs without any single
                          pair being a near-dup; skipped when absent.
                          Runs AFTER dedup so surviving-representative
                          corpora are measured, not raw dup inflation)
       -> train/val split (deterministic hash split by default; pass
          --split-by time --split-ts ... [--embargo-s N] for the
          PIT-correct event-time split with an embargo gap — the right
          splitter when docs carry timestamps and downstream features
          use trailing windows)
       -> RESUMABLE bucketed writes of BOTH splits (lineage manifests;
          re-running skips completed buckets)

Stage ORDER is deliberate: the quality gate is the cheapest test and
shrinks everything downstream; exact dedup (one groupBy) runs before the
shingle fan-out so identical re-scrapes never reach MinHash; the split
comes last so leakage cannot re-enter across it. The expensive near-dup
pair stage checkpoints to --pairs-dir through lineage.checkpointed, like
jobs/run_dedup.py: resume reuses the pairs, not just the output buckets,
when the parameters and corpus (docs path + row count) recorded with them
match this run's, and fails with ValueError when they differ.

Usage:

  zip -r photohive_spark.zip photohive_spark
  spark-submit --py-files photohive_spark.zip jobs/run_curation.py \\
      --docs /path/to/documents_parquet --output /path/to/curated \\
      [--min-quality 0.3] [--threshold 0.9] [--hash fast] [--k 3] \\
      [--max-bucket-size 1024] [--n-buckets 64] \\
      [--benchmark /path/to/benchmark_parquet] [--contam-threshold 0.5] \\
      [--val-rate 0.01] [--pairs-dir /path/to/pairs] \\
      [--max-dup-frac 0.7] [--span-k 5] \\
      [--split-by time --ts-col event_ts \\
       --split-ts '2024-01-20 00:00:00' --embargo-s 86400]

Output layout: {output}/train and {output}/val, each independently
resumable. Prints ONE JSON line with per-stage counts — the drop
accounting (quality/exact/near-dup/contamination) is the audit trail a
curation run must leave behind.
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
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--threshold", type=float, default=0.9)
    ap.add_argument("--hash", choices=["fast", "poly"], default="fast")
    ap.add_argument("--k", type=int, default=3)
    ap.add_argument("--max-bucket-size", type=int, default=1024)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--benchmark", default=None,
                    help="parquet dir of benchmark docs (doc_id, text); "
                         "when given, docs overlapping its k-gram pool "
                         ">= --contam-threshold are dropped")
    ap.add_argument("--contam-threshold", type=float, default=0.5)
    ap.add_argument("--max-dup-frac", type=float, default=None,
                    help="drop docs whose duplicated --span-k-gram span "
                         "coverage exceeds this fraction (boilerplate "
                         "filter); omit to skip the stage")
    ap.add_argument("--span-k", type=int, default=5)
    ap.add_argument("--val-rate", type=float, default=0.01)
    ap.add_argument("--split-by", choices=["hash", "time"], default="hash")
    ap.add_argument("--ts-col", default="event_ts",
                    help="timestamp column for --split-by time")
    ap.add_argument("--split-ts", default=None,
                    help="val starts here (required for --split-by time)")
    ap.add_argument("--embargo-s", type=float, default=0.0,
                    help="gap before --split-ts dropped from BOTH sides")
    ap.add_argument("--pairs-dir", default=None,
                    help="parquet checkpoint for verified near-dup pairs "
                         "(written once, reused on resume)")
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from photohive_spark import dedup, lineage, pit, sampling, text
    from photohive_spark.session import job_spark

    spark = job_spark("photohive-curation")
    t0 = time.time()
    docs = spark.read.parquet(args.docs) \
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    n_docs = docs.count()

    # ---- stage 1: quality gate (pure projection + filter, no shuffle) --
    keep_q = (text.quality_score(docs)
              .where(F.col("quality") >= args.min_quality)
              .select("doc_id"))
    docs_q = docs.join(keep_q, on="doc_id", how="left_semi")
    n_quality = docs_q.count()

    # ---- stage 2: exact dedup (one groupBy on the digest) --------------
    # docs_e is read again by the shingle fan-out AND the near-dup
    # anti-join; persist (memory-and-disk) so the quality gate + digest
    # groupBy run once, not once per downstream action
    reps = dedup.exact_dedup(docs_q).select("doc_id")
    docs_e = docs_q.join(reps, on="doc_id", how="left_semi").persist()
    n_exact = docs_e.count()

    # ---- stage 3: near-dup clusters (checkpointed pair stage) ----------
    params = {"threshold": args.threshold, "k": args.k, "hash": args.hash,
              "max_bucket_size": args.max_bucket_size,
              "min_quality": args.min_quality,
              "docs": args.docs, "n_docs": n_docs}
    pairs, pairs_reused = lineage.checkpointed(
        spark, args.pairs_dir, params, lambda: dedup.minhash_lsh_pairs(
            docs_e, threshold=args.threshold, k=args.k,
            max_bucket_size=args.max_bucket_size, hash_fn=args.hash))
    n_pairs = pairs.count()
    drop = dedup.near_dup_drops(pairs, "doc_id")
    docs_n = docs_e.join(drop, on="doc_id", how="left_anti")
    n_near = docs_n.count()

    # ---- stage 4: benchmark decontamination (optional) -----------------
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark) \
            .withColumn("doc_id", F.col("doc_id").cast("string"))
        docs_c = dedup.decontaminate(docs_n, bench, k=args.k,
                                     threshold=args.contam_threshold)
    else:
        docs_c = docs_n
    # docs_c feeds four actions (n_clean, both resumable writes, n_val);
    # without a persist the decontaminate shingle fan-out — the most
    # expensive stage after pairs — would recompute for each
    docs_c = docs_c.persist()
    n_clean = docs_c.count()
    docs_e.unpersist()

    # ---- stage 4.5: boilerplate span filter (optional) ------------------
    if args.max_dup_frac is not None:
        # hash_grams: gram-keyed shuffles move 8-byte hashes, not
        # k-word strings (the ~1e-8 collision perturbation is noise
        # against a 0.x threshold)
        keep_b = (dedup.dup_span_stats(docs_c, k=args.span_k,
                                       hash_grams=True)
                  .where(F.col("dup_frac") <= args.max_dup_frac)
                  .select("doc_id"))
        docs_pre = docs_c
        docs_c = docs_c.join(keep_b, on="doc_id", how="left_semi").persist()
        n_final = docs_c.count()
        # the pre-filter cache fed the span stats and the semi-join;
        # holding it through the write stages would risk evicting the
        # live post-filter cache on memory-tight executors
        docs_pre.unpersist()
    else:
        n_final = n_clean

    # ---- stage 5: deterministic train/val split + resumable writes -----
    if args.split_by == "time":
        if not args.split_ts:
            raise SystemExit("--split-by time requires --split-ts")
        labeled = pit.temporal_split(docs_c, args.ts_col, args.split_ts,
                                     embargo_s=args.embargo_s,
                                     label_all=True)
        # one aggregation yields every split count INCLUDING null-ts
        # rows — which the filtering form silently drops and which must
        # never be mistaken for embargo-window rows in the accounting
        split_counts = {r["split"]: r["count"]
                        for r in labeled.groupBy("split").count().collect()}
        val = labeled.where(F.col("split") == "val").drop("split")
        train = labeled.where(F.col("split") == "train").drop("split")
        n_train = split_counts.get("train", 0)
        n_val = split_counts.get("val", 0)
        n_embargo = split_counts.get("embargo", 0)
        n_null_ts = split_counts.get("null_ts", 0)
    else:
        val = sampling.hash_sample(docs_c, args.val_rate)
        train = docs_c.join(val.select("doc_id"), on="doc_id",
                            how="left_anti")
        n_train = n_val = None          # from n_final below
        n_embargo = n_null_ts = 0
    train_entries = lineage.run_resumable(
        spark, train, f"{args.output}/train",
        key_col="doc_id", n_buckets=args.n_buckets)
    val_entries = lineage.run_resumable(
        spark, val, f"{args.output}/val",
        key_col="doc_id", n_buckets=max(1, args.n_buckets // 8))
    if n_val is None:
        n_val = val.count()
    if n_train is None:
        n_train = n_final - n_val

    print(json.dumps({
        "n_docs": n_docs,
        "quality_dropped": n_docs - n_quality,
        "exact_dup_dropped": n_quality - n_exact,
        "near_dup_pairs": n_pairs, "pairs_reused": pairs_reused,
        "near_dup_dropped": n_exact - n_near,
        "contamination_dropped": n_near - n_clean,
        "boilerplate_dropped": n_clean - n_final,
        "docs_kept": n_final,
        "split_by": args.split_by,
        "embargo_dropped": n_embargo,
        "null_ts_dropped": n_null_ts,
        "n_train": n_train, "n_val": n_val,
        "train_buckets_run": len(train_entries),
        "val_buckets_run": len(val_entries),
        "train_buckets_done": len(
            lineage.completed_buckets(f"{args.output}/train")),
        "wall_s": round(time.time() - t0, 2),
        "docs_per_s": round(n_docs / max(1e-9, time.time() - t0), 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
