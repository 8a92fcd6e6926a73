#!/usr/bin/env python
"""Round-7 optimization measurement harness (bench.py is FROZEN — this
file holds the extra isolation benches the optimization guide §1 asks
for: per-query noop-sink timings, kernel-stage accumulator splits, and
.explain("formatted") capture for plans/r07/).

Usage:
  python bench_extra.py headline            # per-query noop, min-of-2
  python bench_extra.py profile-extract     # kernel vs boundary split
  python bench_extra.py tokens              # tokens_table in isolation
  python bench_extra.py plans [before|after]  # dump explain() per query
  python bench_extra.py one <query> [n]     # single query, n timed passes
  python bench_extra.py pytask [passes]     # fixed cost of a Python task
  python bench_extra.py codegen [passes]    # generated-code cost per pass
  python bench_extra.py codegen --suite     # same, queries() run twice
  python bench_extra.py jobs [passes]       # Spark jobs per curation phase
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = ["extract_features", "asof_join", "sessionize", "minhash_lsh",
            "similarity_topk", "hist", "rms_stats", "feature_asof",
            "dedup_exact", "quality", "simhash", "tpch_pricing"]


def _get_spark():
    from photohive_spark.session import get_spark
    return get_spark(app="photohive-bench-extra", master=f"local[{CPUS}]",
                     extra={"spark.sql.shuffle.partitions": str(max(32, CPUS)),
                            "spark.driver.memory": "24g"})


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(df, passes=2):
    _noop(df)                                   # warm
    wall = float("inf")
    for _ in range(passes):
        t0 = time.time()
        _noop(df)
        wall = min(wall, time.time() - t0)
    return wall


def _query_df(spark, name):
    import __spark_entry__ as E
    from bench import _flagship_df
    if name == "extract_features":
        return _flagship_df(spark, SF_DIR)
    return E.queries()[name](spark, SF_DIR)


def run_headline_iso():
    spark = _get_spark()
    spark.range(1).count()
    from bench import _prepare_tokens
    spark.read.parquet(_prepare_tokens(spark, SF_DIR)).count()
    out = {}
    for name in HEADLINE:
        spark.sparkContext.setJobDescription(f"iso:{name}")
        df = _query_df(spark, name)
        out[name] = round(_timed(df), 3)
        print(f"{name}: {out[name]}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"sf_dir": SF_DIR, "queries": out,
                      "total": round(sum(out.values()), 3)}))


def run_profile_extract():
    """Kernel seconds (accumulator) vs wall: how much of extract_features
    is numpy compute vs Arrow boundary + scan + scheduling."""
    from bench import _prepare_tokens
    from photohive_spark.engine import (extract_features_df,
                                        kernel_stage_accumulators)
    spark = _get_spark()
    spark.range(1).count()
    toks = spark.read.parquet(_prepare_tokens(spark, SF_DIR))
    n = toks.count()
    time_acc = spark.sparkContext.accumulator(0.0)
    stage_accs = kernel_stage_accumulators(spark)
    df = extract_features_df(toks, time_acc=time_acc, stage_accs=stage_accs)
    _noop(df)                                    # warm
    time_acc.value  # noqa  (reset not possible; record deltas)
    base_total = time_acc.value
    base_stage = {k: a.value for k, a in stage_accs.items()}
    t0 = time.time()
    _noop(df)
    wall = time.time() - t0
    kern = time_acc.value - base_total
    stages = {k: round(a.value - base_stage[k], 2)
              for k, a in stage_accs.items()}
    print(json.dumps({
        "rows": n, "wall_s": round(wall, 3),
        "wall_core_s": round(wall * CPUS, 1),
        "kernel_core_s": round(kern, 1),
        "kernel_frac_of_cores": round(kern / (wall * CPUS), 3),
        "stage_core_s": stages}))


def run_tokens():
    from photohive_spark.tokenize import tokens_table
    spark = _get_spark()
    spark.range(1).count()
    toks = tokens_table(spark, SF_DIR)
    w = _timed(toks)
    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    print(json.dumps({"tokens_table_wall_s": round(w, 3), "docs": n,
                      "docs_per_s": round(n / w, 1)}))
    spark.stop()


def run_plans(tag="before"):
    os.makedirs("plans/r07", exist_ok=True)
    spark = _get_spark()
    spark.range(1).count()
    for name in HEADLINE:
        df = _query_df(spark, name)
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(f"plans/r07/{name}_{tag}.txt", "w") as f:
            f.write(p)
        print(f"wrote plans/r07/{name}_{tag}.txt", file=sys.stderr)
    spark.stop()


def run_one(name, passes=3):
    spark = _get_spark()
    spark.range(1).count()
    from bench import _prepare_tokens
    spark.read.parquet(_prepare_tokens(spark, SF_DIR)).count()
    df = _query_df(spark, name)
    walls = []
    _noop(df)
    for _ in range(passes):
        t0 = time.time()
        _noop(df)
        walls.append(round(time.time() - t0, 3))
    print(json.dumps({"query": name, "walls": walls, "min": min(walls)}))
    spark.stop()


def _tree_cpu():
    """(JVM + other non-Python, Python) CPU seconds used so far by this
    process's descendants: the Spark JVM and its Python daemon/workers."""
    from perfbench.procstat import _is_python, _stat, descendants
    jvm = py = 0.0
    for pid in descendants(os.getpid()):
        st = _stat(pid)
        if st is None:
            continue
        if _is_python(pid):
            py += st[1]
        else:
            jvm += st[1]
    return jvm, py


def _identity(batches):
    # a package task: importing the package is what every kernel and
    # decode stage does on its worker
    import photohive_spark  # noqa: F401
    yield from batches


def run_pytask(passes=7):
    """Fixed per-task cost of a Python stage: an N-task identity
    mapInArrow over N one-row partitions, N = 4 and 32. Prints the
    median wall per action and the process-tree CPU per task, split
    into JVM and Python workers, from /proc deltas around each action.
    Python workers are reused across actions, so none exits inside a
    window and takes its CPU with it."""
    from statistics import median
    spark = _get_spark()
    out = {}
    for n in (4, 32):
        df = spark.range(n, numPartitions=n).mapInArrow(_identity, "id long")
        for _ in range(3):                      # warm: workers + JIT
            _noop(df)
        walls, jvm_ms, py_ms = [], [], []
        for _ in range(passes):
            j0, p0 = _tree_cpu()
            t0 = time.perf_counter()
            _noop(df)
            walls.append(time.perf_counter() - t0)
            j1, p1 = _tree_cpu()
            jvm_ms.append((j1 - j0) * 1e3 / n)
            py_ms.append((p1 - p0) * 1e3 / n)
        out[f"tasks_{n}"] = {
            "wall_s_per_action": round(median(walls), 3),
            "cpu_ms_per_task": round(median(
                [a + b for a, b in zip(jvm_ms, py_ms)]), 1),
            "jvm_cpu_ms_per_task": round(median(jvm_ms), 1),
            "python_cpu_ms_per_task": round(median(py_ms), 1),
            "passes": passes}
        print(f"{n} tasks: {out[f'tasks_{n}']}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"cpus": CPUS, "pytask": out}))


def _jvm_counters(spark) -> dict:
    """Cumulative counters of the session's JVM, which in local mode
    runs the tasks too: Janino compiles (one per generated class) and their
    ms, classes loaded, JIT ms, plus the process tree's CPU from /proc.
    Metaspace is a level, not a count."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    meta = next(p for p in mf.getMemoryPoolMXBeans()
                if p.getName() == "Metaspace")
    jvm_cpu, py_cpu = _tree_cpu()
    return {"compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
            "compile_ms": cg.compileTime() / 1e6,
            "classes_loaded": mf.getClassLoadingMXBean()
                                .getTotalLoadedClassCount(),
            "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "jvm_cpu_s": jvm_cpu, "python_cpu_s": py_cpu,
            "metaspace_mb": meta.getUsage().getUsed() / 2**20}


def _measured(spark, fn) -> dict:
    """Run ``fn()`` and return the counter deltas and its wall."""
    c0 = _jvm_counters(spark)
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    c1 = _jvm_counters(spark)
    out = {k: round(c1[k] - c0[k], 2) for k in c1 if k != "metaspace_mb"}
    return {"wall_s": round(wall, 2), **out,
            "metaspace_mb": round(c1["metaspace_mb"], 1)}


def run_codegen(passes=4, suite=False):
    """Where the JVM's CPU goes on a repeated workload: per pass, Janino
    compiles and their ms, classes loaded, JIT ms, JVM and Python-worker
    CPU and JVM Metaspace. The default runs the benchmark's
    ``curation`` pass (seed 301, benchmark size) ``passes`` times in one
    session; ``--suite`` runs every ``__spark_entry__.queries()`` entry
    at $SPARK_GRAFT_SF_DIR to a noop sink, twice. Once the codegen cache
    holds the working set, passes after the first compile almost
    nothing."""
    from perfbench import inputs
    from perfbench.run import WORK, session
    from perfbench.tracing import Tracer
    from perfbench.workloads import Curation
    work = os.path.join(WORK, "codegen")
    shutil.rmtree(work, ignore_errors=True)   # else lineage writes resume
    spark = session(work)
    out = []
    if suite:
        import __spark_entry__ as E
        failed = []

        def one_round():
            for name, q in E.queries().items():
                try:
                    _noop(q(spark, SF_DIR))
                except Exception as e:      # report it, keep measuring
                    failed.append(f"{name}: {type(e).__name__}")
        for r in range(2):
            out.append(_measured(spark, one_round))
            print(f"round {r + 1}: {out[-1]}", file=sys.stderr)
        extra = {"sf_dir": SF_DIR, "queries": len(E.queries()),
                 "failed": failed}
    else:
        inp, props, truth = inputs.materialize(WORK, "curation", 301, 1.0)
        wl = Curation(spark, inp, props, truth, Tracer(enabled=False), work)
        wl.read()
        for n in range(passes):
            # the digest is the benchmark pass's own read-back action
            out.append(_measured(spark, lambda: wl.run_pass()()))
            print(f"pass {n + 1}: {out[-1]}", file=sys.stderr)
        extra = {"workload": "curation", "docs": wl.items()}
    conf = {k: spark.sparkContext.getConf().get(k, "default") for k in (
        "spark.sql.codegen.cache.maxEntries",
        "spark.sql.codegen.useIdInClassName")}
    spark.stop()
    print(json.dumps({"cpus": len(os.sched_getaffinity(0)), **extra,
                      "conf": conf, "passes": out}))


def _group_counts(sc, group: str) -> dict:
    """Jobs, stages that ran a task and tasks run under job group
    ``group``, from the status tracker (skipped stages count 0)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        for sid in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:
                stages += 1
                tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def run_jobs(passes=3):
    """Where a ``curation`` pass's Spark jobs go: the benchmark's pass
    (seed 301, benchmark size) split into its phases — the countmin
    collect, the ``minhash_lsh_pairs`` call, connected components (the
    call also runs the LSH verify its rounds read) and the lineage write.
    Per phase: Spark jobs, stages and tasks (status tracker, by job
    group), wall, and JVM and Python-worker CPU from /proc. Pass 1 is
    cold; later passes show the steady state."""
    from photohive_spark import lineage
    from perfbench import inputs
    from perfbench.run import WORK, session
    from perfbench.tracing import Tracer
    from perfbench.workloads import Curation
    work = os.path.join(WORK, "jobs")
    shutil.rmtree(work, ignore_errors=True)   # else lineage writes resume
    spark = session(work)
    sc = spark.sparkContext
    inp, props, truth = inputs.materialize(WORK, "curation", 301, 1.0)
    wl = Curation(spark, inp, props, truth, Tracer(enabled=False), work)
    wl.read()
    out = []
    for n in range(1, passes + 1):
        s = wl.stages()
        phases = {
            "countmin_collect": lambda: s.countmin.collect(),
            "minhash_lsh_pairs": lambda: s.lsh,
            "connected_components": lambda: s.kept,
            "lineage_write": lambda: lineage.run_resumable(
                spark, s.kept, os.path.join(work, "lineage", f"pass-{n}"))}
        row = {}
        for name, fn in phases.items():
            group = f"pass{n}:{name}"
            sc.setJobGroup(group, group)
            j0, p0 = _tree_cpu()
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            j1, p1 = _tree_cpu()
            sc.setLocalProperty("spark.jobGroup.id", None)
            row[name] = {**_group_counts(sc, group), "wall_s": round(wall, 3),
                         "jvm_cpu_s": round(j1 - j0, 2),
                         "python_cpu_s": round(p1 - p0, 2)}
        row["total"] = {k: round(sum(r[k] for r in row.values()), 3)
                        for k in next(iter(row.values()))}
        out.append(row)
        print(f"pass {n}: {json.dumps(row)}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"cpus": len(os.sched_getaffinity(0)),
                      "workload": "curation", "docs": wl.items(),
                      "passes": out}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "headline"
    if mode == "headline":
        run_headline_iso()
    elif mode == "profile-extract":
        run_profile_extract()
    elif mode == "tokens":
        run_tokens()
    elif mode == "plans":
        run_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif mode == "one":
        run_one(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif mode == "pytask":
        run_pytask(int(sys.argv[2]) if len(sys.argv) > 2 else 7)
    elif mode == "codegen":
        arg = sys.argv[2] if len(sys.argv) > 2 else "4"
        if arg == "--suite":
            run_codegen(suite=True)
        else:
            run_codegen(int(arg))
    elif mode == "jobs":
        run_jobs(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    else:
        raise SystemExit(f"unknown mode {mode}")
