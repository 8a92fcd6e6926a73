"""The contract of arrow_stage.arrow_stage, the one Arrow boundary of the
per-batch Python operators, and the similarity stages that run on it:
ids keep their input type, and a vector of the wrong width fails."""

import numpy as np
import pyarrow as pa
import pytest
import pyspark.sql.types as T

from photohive_spark import similarity
from photohive_spark.arrow_stage import arrow_stage, fixed_list


class _Capture:
    """Stands in for a DataFrame: records the mapInArrow function so the
    test can feed it hand-made record batches."""

    def __init__(self, schema):
        self.schema = schema

    def mapInArrow(self, fn, schema):
        self.fn, self.out_schema = fn, schema
        return self


IN = T.StructType([T.StructField("id", T.IntegerType()),
                   T.StructField("tag", T.StringType()),
                   T.StructField("x", T.LongType())])


def _batch(ids, tags, xs):
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int32()), pa.array(tags), pa.array(xs, pa.int64())],
        ["id", "tag", "x"])


def _run(body, out, carry, batches):
    stage = arrow_stage(_Capture(IN), out, body, carry)
    return stage.out_schema, list(stage.fn(iter(batches)))


@pytest.mark.parametrize("rows,want", [
    (None, [0, 1, 2]),
    (np.array([2, 0]), [2, 0]),
    (np.array([True, False, True]), [0, 2]),
    ([], []),
])
def test_rows_select_the_carried_input_rows(spark, rows, want):
    """None, indices, a mask and an empty index list pick the carried
    rows; the carried int keeps its type. (``spark`` makes a session
    active for the DDL parse.)"""
    def body(b):
        n = len(want)
        return rows, {"y": np.arange(n, dtype=np.float64)}

    schema, out = _run(body, "y double", ["id"],
                       [_batch([7, 8, 9], ["a", "b", "c"], [1, 2, 3])])
    assert [f.name for f in schema.fields] == ["id", "y"]
    assert schema["id"].dataType == T.IntegerType()   # input type, carried
    (b,) = out
    assert b.schema.names == ["id", "y"]
    assert b.column(0).type == pa.int32()
    assert b.column(0).to_pylist() == [[7, 8, 9][i] for i in want]
    assert b.column(1).to_pylist() == [float(i) for i in range(len(want))]


def test_carry_placed_by_out_or_prepended_and_empty_batch_skipped(spark):
    """``id`` (not in ``out``) comes first, ``tag`` sits where ``out``
    names it, and the body never sees a zero-row batch."""
    calls = []

    def body(b):
        calls.append(b.num_rows)
        return None, {"n": [len(t) for t in b.column("tag").to_pylist()],
                      "v": fixed_list(np.ones((b.num_rows, 2)))}

    out = T.StructType([T.StructField("n", T.IntegerType()),
                        T.StructField("tag", T.StringType()),
                        T.StructField("v", T.ArrayType(T.DoubleType()))])
    schema, batches = _run(body, out, ["id", "tag"],
                           [_batch([], [], []), _batch([5], ["abc"], [0])])
    assert calls == [1]                      # the zero-row batch is skipped
    assert [f.name for f in schema.fields] == ["id", "n", "tag", "v"]
    (b,) = batches
    assert b.to_pylist() == [{"id": 5, "n": 3, "tag": "abc",
                              "v": [1.0, 1.0]}]
    assert b.schema.field("n").type == pa.int32()


def test_spark_stage_keeps_int_id(spark):
    """Through a real mapInArrow: a mask body over 3 partitions, the int
    id still int in the schema and the rows."""
    df = spark.createDataFrame([(i, f"t{i}", i * 10) for i in range(6)],
                               "id int, tag string, x bigint")

    def body(b):
        x = b.column("x").to_numpy()
        return x > 20, {"half": x[x > 20] // 2}

    got = arrow_stage(df.repartition(3), "half bigint", body, ["id"])
    assert got.schema["id"].dataType == T.IntegerType()
    assert sorted(tuple(r) for r in got.collect()) == \
        [(3, 15), (4, 20), (5, 25)]


def test_fixed_list():
    arr = fixed_list(np.arange(6).reshape(3, 2))
    assert arr.to_pylist() == [[0, 1], [2, 3], [4, 5]]
    assert arr.type == pa.list_(pa.int64())
    assert fixed_list(np.zeros((2, 0))).to_pylist() == [[], []]


@pytest.mark.parametrize("id_type,ids", [
    ("int", list(range(24))),
    ("string", [f"v{i:02d}" for i in range(24)]),
])
def test_similarity_stages_keep_id_type(spark, tmp_path, id_type, ids):
    """pq_encode, pq_topk, write_ivfpq_index, rp_project and pca_project
    return the id with its input type (a string id used to fail the
    task and an int id came back as bigint)."""
    rng = np.random.default_rng(3)
    V = rng.normal(size=(len(ids), 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, V)],
        f"vec_id {id_type}, embedding array<double>")
    cb = similarity.train_pq(emb, m=2, n_codes=4, sample_rows=24)
    codes = similarity.pq_encode(emb, cb)
    path = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(emb, path, similarity.unit_hyperplanes(8, 3),
                                 cb)
    M = similarity.rp_matrix_formula(4, 8)
    outs = {
        "pq_encode": codes,
        "pq_topk": similarity.pq_topk(codes, cb, list(V[0]), k=5),
        "write_ivfpq_index": spark.read.parquet(path),
        "rp_project": similarity.rp_project(emb, M),
        "pca_project": similarity.pca_project(
            emb, similarity.pca_train(emb, 3)),
    }
    for name, df in outs.items():
        assert df.schema["vec_id"].dataType == emb.schema["vec_id"].dataType, \
            name
        got = [r.vec_id for r in df.collect()]
        if name == "pq_topk":
            assert len(got) == 5 and set(got) <= set(ids), name
        else:
            assert sorted(got) == sorted(ids), name
    proj = {r.vec_id: r.proj for r in outs["rp_project"].collect()}
    for i, v in zip(ids, V):
        assert proj[i] == pytest.approx(list(M @ v), abs=1e-12)


@pytest.mark.parametrize("vec,got", [([1.0], "1"), (None, "null")])
def test_rp_project_rejects_wrong_width(spark, vec, got):
    """A vector shorter than the matrix's input width (or a null one)
    fails naming both widths; numpy would broadcast [1.0] as [1.0, 1.0]."""
    emb = spark.createDataFrame([(1, [1.0, 2.0]), (2, vec)],
                                "vec_id long, embedding array<double>")
    M = np.array([[0.5, 0.25], [0.125, 0.5]])
    with pytest.raises(Exception, match=f"expected 2 values, got {got}"):
        similarity.rp_project(emb, M).collect()
