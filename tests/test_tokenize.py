"""Tokenizer parity: Spark SQL expr == DuckDB SQL == pure Python, and the
input_hint schema invariants."""

import duckdb
import numpy as np

from oracles import tokenize_text
from photohive_spark.tokenize import (DUCKDB_TOKENS_SQL, tokens_table,
                                      validate_tokens)


def test_three_way_parity(spark, sf_dir):
    sdf = tokens_table(spark, sf_dir).orderBy("doc_id").limit(20).collect()
    q = f"""
    select cast(doc_id as varchar) as doc_id, {DUCKDB_TOKENS_SQL} as tokens, text
    from read_parquet('{sf_dir}/documents.parquet')
    order by cast(doc_id as varchar) limit 20
    """
    drows = duckdb.sql(q).fetchall()
    assert len(sdf) == len(drows)
    for srow, (ddoc, dtoks, text) in zip(sdf, drows):
        assert srow.doc_id == ddoc
        assert list(srow.tokens) == [int(t) for t in dtoks]
        # pure-python oracle
        assert list(srow.tokens) == tokenize_text(text).tolist()


def test_schema_and_ranges(spark, sf_dir):
    df = tokens_table(spark, sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "tokens", "n_tok", "source", "event_ts"]
    assert df.schema["tokens"].dataType.simpleString() == "array<int>"
    rows = df.limit(50).collect()
    for r in rows:
        assert r.n_tok == len(r.tokens)
        assert all(0 <= t < 50257 for t in r.tokens)


def test_validate_bounds(spark, sf_dir):
    df = tokens_table(spark, sf_dir)
    lo, hi = 30, 100
    kept = validate_tokens(df, lo, hi)
    got = kept.agg({"n_tok": "min"}).collect()[0][0]
    assert got is None or got >= lo
    mx = kept.agg({"n_tok": "max"}).collect()[0][0]
    assert mx is None or mx <= hi


def test_tokenize_plan_shape(spark, sf_dir):
    """r7: the hash runs in ONE vectorized mapInArrow stage straight over
    the scan — no row-at-a-time Python, no shuffle, and the scan reads
    only the three needed columns (column pruning through the Arrow
    node)."""
    plan = tokens_table(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInArrow" in plan
    # only the deliberate small-scan rebalance exchange is allowed
    assert plan.count("Exchange") <= 1, plan
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs and "text" in rs[0] and "n_chars" not in rs[0], rs


def test_fast_tokenizer_matches_expr_form(spark, sf_dir):
    """Full-corpus exact parity: the vectorized numpy tokenizer ==
    the original all-Catalyst SPARK_TOKENS_EXPR form, every row."""
    from oracles import tokens_table_expr
    fast = tokens_table(spark, sf_dir).orderBy("doc_id").collect()
    slow = tokens_table_expr(spark, sf_dir).orderBy("doc_id").collect()
    assert len(fast) == len(slow)
    for a, b in zip(fast, slow):
        assert a == b


def test_validate_token_range(spark):
    import datetime as dt
    rows = [("ok", [1, 2, 3], 3, "w", dt.datetime(2026, 1, 1)),
            ("neg", [1, -5, 3], 3, "w", dt.datetime(2026, 1, 1)),
            ("big", [1, 60000, 3], 3, "w", dt.datetime(2026, 1, 1))]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
              "event_ts timestamp")
    kept = [r.doc_id for r in validate_tokens(df, 0, 10, check_range=True).collect()]
    assert kept == ["ok"]
