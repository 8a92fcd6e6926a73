"""Executed-plan SQL metrics reader.

Reads Spark's SQL status store, the record the SQL UI is built from
(kept whether or not the UI runs): one entry per SQL execution, holding
the executed plan graph (the final adaptive plan) and each operator's
metric values as Spark formats them. ``PlanReader.drain()`` returns
``{"action", "nodes": [{"node", "metrics"}]}`` for every execution that
finished since the previous call, including the ones a library function
runs internally (connected-components rounds, lineage writes).

Values are parsed back from Spark's strings: sums are exact, sizes come
in bytes with Spark's 3-4 significant digits, times in seconds at ms
resolution. A reused exchange shows as a node without metrics of its
own, so each exchange is counted once. Checkpointed subtrees are not
part of any execution's plan; they appear as the scan of the checkpoint.
"""

from __future__ import annotations

import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(kind: str, text: str) -> float | None:
    """One formatted SQL metric value -> bytes, seconds or a count; None
    for kinds that carry no total (averages). Multi-task values read
    ``total (min, med, max ...)\\n<total> (...)``: the total is the first
    number of the last line."""
    line = text.strip().splitlines()[-1].replace(",", "")
    num, unit = (line.split() + [""])[:2]
    if kind == "size":
        return float(num) * _SIZE[unit]
    if kind in ("timing", "nsTiming"):
        return float(num) * _TIME[unit]
    if kind == "sum":
        return float(num)
    return None


def execution_nodes(store, execution_id: int) -> list[dict]:
    """``[{"node", "metrics"}]`` for one finished SQL execution."""
    values = store.executionMetrics(execution_id)
    out = []
    it = store.planGraph(execution_id).allNodes().iterator()
    while it.hasNext():
        node = it.next()
        metrics = {}
        mit = node.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            v = values.get(m.accumulatorId())
            if v.isDefined():
                x = parse_metric(m.metricType(), v.get())
                if x is not None:
                    metrics[m.name()] = x
        out.append({"node": node.name(), "metrics": metrics})
    return out


class PlanReader:
    """Hands out the plans of SQL executions as they finish."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._done = {eid for eid, _ in self._finished()}

    def _finished(self, timeout: float = 10.0) -> list:
        """(id, description) of every execution, once all are complete:
        the store records an execution's end asynchronously, after the
        action that ran it has returned."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        deadline = time.monotonic() + timeout
        while True:
            out, pending = [], False
            it = self._store.executionsList().iterator()
            while it.hasNext():
                e = it.next()
                if e.completionTime().isDefined():
                    out.append((e.executionId(), e.description()))
                else:
                    pending = True
            if not pending or time.monotonic() > deadline:
                return out
            time.sleep(0.01)

    def drain(self) -> list[dict]:
        """Plans of the executions that finished since the last call."""
        new = []
        for eid, desc in self._finished():
            if eid not in self._done:
                self._done.add(eid)
                new.append({"action": desc,
                            "nodes": execution_nodes(self._store, eid)})
        return new


def summarize(nodes: list[dict]) -> dict:
    """The runtime totals the per-layer table reports."""
    s = {"exchange_records": 0, "exchange_bytes": 0, "python_bytes_sent": 0,
         "python_bytes_recv": 0, "python_total_s": 0.0, "scan_bytes": 0}
    for n in nodes:
        m, name = n["metrics"], n["node"]
        if name == "Exchange":
            s["exchange_records"] += m.get("shuffle records written", 0)
            s["exchange_bytes"] += m.get("shuffle bytes written", 0)
        if "data sent to Python workers" in m:
            s["python_bytes_sent"] += m["data sent to Python workers"]
            s["python_bytes_recv"] += m.get(
                "data returned from Python workers", 0)
            s["python_total_s"] += m.get("time to run Python workers", 0.0)
        if name.startswith("Scan") and "size of files read" in m:
            s["scan_bytes"] += m["size of files read"]
    return s
