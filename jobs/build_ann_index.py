#!/usr/bin/env python
"""spark-submit entry point for building (and smoke-querying) the
materialized ANN indexes over an embeddings table.

Usage:

  zip -r photohive_spark.zip photohive_spark
  spark-submit --py-files photohive_spark.zip jobs/build_ann_index.py \\
      --embeddings /path/to/embeddings_parquet --output /path/to/index \\
      --kind lsh [--n-planes 8] [--seed 42]
  spark-submit ... --kind ivf [--n-cells 64] [--sample 1024]
  spark-submit ... --kind ivfpq [--n-cells 64] [--pq-m 8] [--pq-codes 256]

The index is the embeddings table written PARTITIONED BY the coarse key
(LSH bucket id / IVF cell id), so a query scans only its own partition
directories — at 10^12 rows the pruned fraction (1/2^planes per LSH
table, n_probe/n_cells for IVF) is the difference between an ANN query
and a full corpus scan. IVF centroids are persisted as JSON next to the
index (they are the query-side half of the index). Prints one JSON line.

Reference precedent for materialize-once/reuse: the polar LUT cache
(src/blur_profile.c:19-23).
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--embeddings", required=True,
                    help="parquet dir with (vec_id, embedding array<float>)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--kind", choices=["lsh", "ivf", "ivfpq"],
                    default="lsh")
    ap.add_argument("--dim", type=int, default=None,
                    help="embedding dimension; default: inferred from the "
                         "first row (a wrong dim silently zeroes LSH signs)")
    ap.add_argument("--n-planes", type=int, default=8)
    ap.add_argument("--n-cells", type=int, default=8)
    ap.add_argument("--sample", type=int, default=1024,
                    help="IVF k-means training sample size (driver-side)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--pq-m", type=int, default=8,
                    help="PQ subspaces (code bytes per vector)")
    ap.add_argument("--pq-codes", type=int, default=256,
                    help="codebook entries per subspace (<= 256)")
    args = ap.parse_args()

    from photohive_spark import similarity
    from photohive_spark.session import job_spark

    spark = job_spark("photohive-ann-index")
    t0 = time.time()
    emb = spark.read.parquet(args.embeddings)
    # infer (and validate) the embedding dimension from one row: hyperplanes
    # of the wrong width make zip_with pad with NULLs -> every sign bit 0 ->
    # the whole corpus lands in bucket 0 and readers scan a nonexistent
    # partition. Fail loudly instead.
    first = emb.select("embedding").limit(1).collect()
    if not first:
        raise SystemExit("embeddings table is empty")
    real_dim = len(first[0].embedding)
    dim = args.dim if args.dim is not None else real_dim
    if dim != real_dim:
        raise SystemExit(f"--dim {dim} != embedding width {real_dim}")
    if args.kind == "lsh":
        similarity.write_lsh_index(emb, args.output, dim=dim,
                                   n_planes=args.n_planes, seed=args.seed)
        meta = {"kind": "lsh", "dim": dim, "n_planes": args.n_planes,
                "seed": args.seed}
    elif args.kind == "ivf":
        cents = similarity.ivf_centroids_from_sample(
            emb, n_cells=args.n_cells, iters=5, sample_rows=args.sample)
        similarity.write_ivf_index(emb, args.output, cents)
        meta = {"kind": "ivf", "dim": dim, "n_cells": args.n_cells,
                "sample": args.sample,
                "centroids": [[float(x) for x in c] for c in cents]}
    else:   # ivfpq: both pruning axes — cells x m-byte codes
        cents = similarity.ivf_centroids_from_sample(
            emb, n_cells=args.n_cells, iters=5, sample_rows=args.sample)
        cbs = similarity.train_pq(emb, m=args.pq_m, n_codes=args.pq_codes,
                                  sample_rows=max(args.sample, 2048))
        similarity.write_ivfpq_index(emb, args.output, cents, cbs)
        meta = {"kind": "ivfpq", "dim": dim, "n_cells": args.n_cells,
                "sample": args.sample, "pq_m": args.pq_m,
                "pq_codes": int(cbs.shape[1]),
                "centroids": [[float(x) for x in c] for c in cents],
                "codebooks": [[[float(x) for x in e] for e in cb]
                              for cb in cbs]}
    # query-side metadata lives NEXT TO the data (like _lineage): a reader
    # needs the same planes/centroids the writer used. Written through the
    # Hadoop FileSystem API so hdfs://... / s3a://... outputs work — a local
    # file write would fail on the driver AFTER the expensive index write.
    from photohive_spark.lineage import hadoop_write_text
    hadoop_write_text(spark, os.path.join(args.output, "_ann_meta.json"),
                      json.dumps(meta))
    # row count read back from the just-written index (partition-local
    # parquet footers), not a second full scan of the input
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"kind": args.kind, "rows": n,
                      "wall_s": round(time.time() - t0, 2),
                      "output": args.output}))
    spark.stop()



if __name__ == "__main__":
    main()
