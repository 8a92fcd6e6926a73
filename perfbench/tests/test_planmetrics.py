"""The executed-plan metrics reader, pinned on a two-stage plan: one
MapInArrow feeding one Exchange."""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.planmetrics import PlanReader, parse_metric, summarize  # noqa: E402


def test_parse_metric_forms():
    assert parse_metric("sum", "1,234,567") == 1234567
    assert parse_metric("size", "1.5 KiB") == 1536
    assert parse_metric("size", "total (min, med, max (stageId: taskId))\n"
                                "2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage "
                                "1.0: task 3))") == 2 << 20
    assert parse_metric("timing", "345 ms") == pytest.approx(0.345)
    assert parse_metric("nsTiming", "total (min, med, max)\n1.2 s (0.1 s, "
                                    "0.5 s, 0.6 s)") == pytest.approx(1.2)
    assert parse_metric("average", "\n(1, 1.2, 3 (stage 1.0: task 4))") is None


@pytest.fixture(scope="module")
def spark():
    from perfbench.run import session
    s = session(os.path.join(ROOT, "perfbench", ".work", "test"))
    yield s
    s.stop()


def test_two_stage_plan(spark):
    import pyspark.sql.functions as F

    def passthrough(batches):
        yield from batches

    n, keys = 20_000, 7
    df = (spark.range(0, n, 1, 4)
          .mapInArrow(passthrough, "id long")
          .groupBy((F.col("id") % keys).alias("k")).count())
    reader = PlanReader(spark)
    df.write.format("noop").mode("overwrite").save()
    actions = reader.drain()
    assert len(actions) == 1
    nodes = actions[0]["nodes"]
    names = [x["node"] for x in nodes]
    assert names.count("Exchange") == 1
    assert names.count("MapInArrow") == 1
    arrow = next(x["metrics"] for x in nodes if x["node"] == "MapInArrow")
    assert arrow["number of output rows"] == n
    assert arrow["data sent to Python workers"] > 8 * n
    s = summarize(nodes)
    # partial aggregation: each of the 4 map tasks writes one row per key
    assert s["exchange_records"] == 4 * keys
    assert s["exchange_bytes"] > 0
    assert s["python_bytes_sent"] == arrow["data sent to Python workers"]
    assert s["python_bytes_recv"] > 0
    assert reader.drain() == []
