"""The contract every media operator gets from multimodal._media_stage:
on_error handling of null and corrupt payloads, a media_id-naming
failure, fully-skipped and empty inputs, and pass-through columns that
keep their input types and values."""

import datetime as dt

import numpy as np
import pytest
import pyspark.sql.types as T

from photohive_spark import multimodal, png

OPS = {
    "media_features": lambda m, **kw: multimodal.media_features(
        m, mode="real", **kw),
    "image_decode_stats": multimodal.image_decode_stats,
    "image_phash": lambda m, **kw: multimodal.image_phash(
        m, mode="real", **kw),
    "image_report": lambda m, **kw: multimodal.image_report(
        m, mode="real", **kw),
    "media_report": multimodal.media_report,
}


@pytest.fixture(scope="module")
def media(spark):
    img = np.random.default_rng(3).integers(0, 256, (12, 10, 3),
                                            dtype=np.uint8)
    good = bytearray(png.encode_png(img))
    rows = [("ok1", "image", good, 10, 12, None, None),
            ("null", "image", None, 10, 12, None, None),
            ("bad", "image", b"\x89PNG garbage", 10, 12, None, None),
            ("ok2", "image", good, 10, 12, None, None)]
    # one partition: kept and skipped rows share a record batch
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA).coalesce(1)


@pytest.mark.parametrize("name", sorted(OPS))
def test_media_stage_on_error_contract(media, name):
    op = OPS[name]
    got = sorted(r.media_id for r in op(media, on_error="skip").collect())
    assert got == ["ok1", "ok2"]
    for mid in ("null", "bad"):
        one = media.where(f"media_id = '{mid}'")
        with pytest.raises(Exception, match=f"media_id='{mid}'"):
            op(one).collect()
    # every row of the batch skipped, and no input rows at all
    bad_only = media.where("media_id in ('null', 'bad')")
    assert op(bad_only, on_error="skip").collect() == []
    assert op(media.where("media_id = 'none'")).collect() == []


def test_image_phash_passthrough_keeps_types_and_values(spark):
    """A nullable bigint beyond 2^53 and a timestamp ride through the
    hash stage bit-exact (a float64 detour would round 2^53 + 1)."""
    img = np.random.default_rng(4).integers(0, 256, (16, 16, 3),
                                            dtype=np.uint8)
    payload = bytearray(png.encode_png(img))
    big = 2 ** 53 + 1
    t0 = dt.datetime(2026, 1, 1, 12, 30, 15, 123456)
    schema = T.StructType(list(multimodal.MEDIA_SCHEMA.fields) + [
        T.StructField("big", T.LongType()),
        T.StructField("ts", T.TimestampType())])
    rows = [("a", "image", payload, None, None, None, None, big, t0),
            ("b", "image", payload, None, None, None, None, None, None),
            ("c", "image", b"garbage", None, None, None, None, 7, t0)]
    media = spark.createDataFrame(rows, schema).coalesce(1)
    out = multimodal.image_phash(media, on_error="skip",
                                 passthrough=("big", "ts"))
    assert out.schema["big"].dataType == T.LongType()
    assert out.schema["ts"].dataType == T.TimestampType()
    got = {r.media_id: (r.big, r.ts) for r in out.collect()}
    assert got == {"a": (big, t0), "b": (None, None)}
