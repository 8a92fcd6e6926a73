"""Deterministic sampling for training-data pipelines.

Random sampling (``df.sample``) is neither reproducible across engines nor
stable under retries; training pipelines instead hash a stable key and keep
rows whose hash bucket falls under the target rate. Both operators here use
the tokenizer's poly hash, so the DuckDB oracle — and any re-run at any
cluster size — selects EXACTLY the same rows.

Scale: pure Catalyst projections + filter (whole-stage codegen'd, pushdown
intact); sampling never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from .dedup import poly_hash_expr

SAMPLE_MOD = 10_000  # hash-bucket resolution: rates are multiples of 0.01%


def _bucket(id_col: str) -> F.Column:
    # poly-hash the md5 HEX of the key, not the key itself: the raw poly
    # hash has no avalanche (sequential ids "d0","d1",... map to
    # consecutive buckets, so an id RANGE is all-kept or all-dropped);
    # md5 diffuses first, and the poly fold over its 32 hex chars keeps
    # the bucket DuckDB/Python-reproducible
    return F.expr(poly_hash_expr(f"md5({id_col})")) % SAMPLE_MOD


def _thresh(rate: float) -> int:
    # round, don't truncate: 0.29 * 10000 is 2899.999... in float64 and
    # int() would shave a whole bucket off the requested rate
    return int(round(rate * SAMPLE_MOD))


def hash_sample(df: DataFrame, rate: float, id_col: str = "doc_id"
                ) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by key hash."""
    return df.where(_bucket(id_col) < _thresh(rate))


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      strata_col: str = "source", id_col: str = "doc_id",
                      default_rate: float = 0.0) -> DataFrame:
    """Per-stratum deterministic sampling — the standard corpus-mixing
    primitive (e.g. downweight a crawl source, keep all curated docs).
    ``rates`` maps stratum value -> keep fraction; unlisted strata use
    ``default_rate``."""
    thresh = F.lit(_thresh(default_rate))
    for val, rate in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == val,
                        F.lit(_thresh(rate))).otherwise(thresh)
    return df.where(_bucket(id_col) < thresh)
