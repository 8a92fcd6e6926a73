"""photohive_spark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload features_full --seed 1 \\
        --seconds 10 --trace 0

Runs the workload as a closed loop of back-to-back passes from this one
driver process on ``local[<cores>]``, with the engine's own session
defaults. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs a second, traced loop and the prefix ladder and reports the
per-layer metrics. A table goes to stdout first; the last line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")  # inputs, spills, traces
MIN_LADDER_S = 3.0  # the prefix ladder repeats until it ran this long


def _process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat", "rb") as fh:
        raw = fh.read()
    start = int(raw[raw.rindex(b")") + 2:].split()[19])  # field 22
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start / os.sysconf("SC_CLK_TCK")


# process start on the perf_counter clock: setup_s is measured from here
T_START = time.perf_counter() - _process_age()


def metric_units() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json defines them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["features_full", "features_asof", "curation",
                            "images", "features_images"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=float, default=1.0,
                   help="input scale; 1.0 is the benchmark size")
    return p.parse_args(argv)


def session(work: str):
    """The engine's own session factory on all local cores. Only where
    Spark and the JVM put scratch files is set, so a run writes inside
    ``work``."""
    from photohive_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # inherited by the JVM and its Python workers
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in path:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in path if p])
    spark = get_spark(
        app="perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
        extra={"spark.local.dir": os.path.join(work, "spark-local"),
               "spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, args, wl_cls, inp, props, truth):
        from perfbench.procstat import TreeSampler
        from perfbench.tracing import Tracer
        self.args, self.wl_cls = args, wl_cls
        self.inp, self.props, self.truth = inp, props, truth
        self.work = os.path.join(WORK, "run")
        shutil.rmtree(self.work, ignore_errors=True)
        self.tracer = Tracer(enabled=False)
        self.sampler = TreeSampler().start()
        self.cores = len(os.sched_getaffinity(0))
        self.spark = self.wl = None
        self.ref_digest = None
        self.plans: dict = {}     # ladder step -> executed plan nodes
        self.failed = self.attempted = 0
        self.problems: list[str] = []

    # -- set-up: session start, input read, warm passes ------------------
    def setup(self) -> None:
        """The first warm pass's digest is the reference every timed pass
        must match; later warm passes only warm the JVM and workers."""
        self.spark = session(self.work)
        self.wl = self.wl_cls(self.spark, self.inp, self.props,
                              self.truth, self.tracer, self.work)
        self.wl.read()
        self.ref_digest = self.wl.run_pass()   # may be read back later
        for _ in range(self.wl.warm_passes - 1):
            self.wl.run_pass()

    # -- closed loop ------------------------------------------------------
    def loop(self, seconds: float, min_passes: int = 1,
             on_pass=None) -> list[dict]:
        """Back-to-back passes for ``seconds`` and at least ``min_passes``;
        returns one record per pass: its wall, the CPU the process tree
        used in it, and its digest or the error it raised. The sampler's
        window must be open."""
        n = self.wl.items()
        passes = []
        t_loop = time.perf_counter()
        cpu = self.sampler.mark()
        while (len(passes) < min_passes
               or time.perf_counter() - t_loop < seconds):
            t0 = time.perf_counter()
            try:
                d, err = self.wl.run_pass(), None
            except Exception:       # a raised pass fails all its items
                d, err = None, traceback.format_exc()
            wall = time.perf_counter() - t0
            cpu, cpu0 = self.sampler.mark(), cpu
            rec = {"wall_s": wall, "items_per_s": n / wall,
                   "cpu_s_per_kitem": (cpu - cpu0) / n * 1e3,
                   "digest": d, "error": err}
            if on_pass is not None:
                rec.update(on_pass(wall))
            passes.append(rec)
        return passes

    def tally(self, passes: list[dict]) -> None:
        """Count the failed items of ``passes``. A digest that is read
        back from the written output is read here, after the window."""
        n = self.wl.items()
        expect = self.wl.expected_rows()
        if callable(self.ref_digest):
            self.ref_digest = self.ref_digest()
        for p in passes:
            d, err = p.pop("digest"), p.pop("error")
            if err is None and callable(d):
                try:
                    d = d()
                except Exception:
                    err = traceback.format_exc()
            self.attempted += n
            if err is not None:
                self.failed += n
                self.problems.append(err.strip().splitlines()[-1])
            elif d != self.ref_digest:
                self.failed += n
                self.problems.append("output digest differs between passes")
            elif expect is not None and d["rows"] != expect:
                self.failed += abs(expect - d["rows"])
                self.problems.append(f"{d['rows']} output rows, "
                                     f"expected {expect}")

    def timed(self, seconds: float, min_passes: int = 1, on_pass=None):
        self.sampler.begin()
        passes = self.loop(seconds, min_passes, on_pass)
        usage = self.sampler.end()
        self.tally(passes)
        return passes, usage

    def check(self) -> None:
        bad = self.wl.check(self.ref_digest)
        self.failed += len(bad)
        self.problems += bad

    # -- traced run ---------------------------------------------------------
    def traced(self, seconds: float) -> tuple[dict, list[dict], list[dict]]:
        """Untraced loop, traced loop, then the prefix ladder; returns
        the per-layer metrics and both loops' pass records."""
        from perfbench.planmetrics import PlanReader, summarize
        from photohive_spark import engine
        untraced, _ = self.timed(seconds / 2)
        self.tracer.enabled = True
        plans = PlanReader(self.spark)
        accs = {"time_acc": self.spark.sparkContext.accumulator(0.0),
                "stage_accs": engine.kernel_stage_accumulators(self.spark)}
        self.wl.hooks.update(accs)

        def acc_values():
            return {"kernel_s": accs["time_acc"].value,
                    **{k: a.value for k, a in accs["stage_accs"].items()}}
        last = acc_values()

        def on_pass(wall):
            nodes = [n for a in plans.drain() for n in a["nodes"]]
            now = acc_values()
            d = {k: v - last[k] for k, v in now.items()}
            last.update(now)
            return {**summarize(nodes), **d}

        traced_passes, _ = self.timed(seconds / 2, on_pass=on_pass)
        self.wl.hooks.clear()
        steps = self.wl.ladder()
        walls = {name: [] for name in steps}
        prefix_nodes = {name: [] for name in steps}
        t_ladder = time.perf_counter()
        while (not any(walls.values())
               or time.perf_counter() - t_ladder < MIN_LADDER_S):
            for name, step in steps.items():
                with self.tracer.span(f"ladder.{name}"):
                    t0 = time.perf_counter()
                    step()
                    walls[name].append(time.perf_counter() - t0)
                prefix_nodes[name] += [n for a in plans.drain()
                                       for n in a["nodes"]]
        prefix_s = {name: median(w) for name, w in walls.items()}
        self.plans = prefix_nodes
        return (self.layer_table(untraced, traced_passes, prefix_s,
                                 prefix_nodes), untraced, traced_passes)

    def layer_table(self, untraced, traced, prefix_s, prefix_nodes) -> dict:
        """Every per-layer metric: 0 for a layer the workload does not
        run; an error if one of the workload's own layers reads 0."""
        n = self.wl.items()

        def med(key):
            return median(p[key] for p in traced)
        m = {name: 0.0 for name in metric_units()[1]}
        m.update({
            "spark.exchange_records_per_item": med("exchange_records") / n,
            "spark.exchange_bytes_per_item": med("exchange_bytes") / n,
            "spark.python_bytes_sent_per_item": med("python_bytes_sent") / n,
            "spark.python_bytes_recv_per_item": med("python_bytes_recv") / n,
            "spark.python_total_s": med("python_total_s"),
            "spark.scan_bytes_per_item": med("scan_bytes") / n,
            "trace.untraced_items_per_s": median(
                p["items_per_s"] for p in untraced),
            "trace.traced_items_per_s": med("items_per_s"),
        })
        if "engine.kernel_core_s_per_kitem" in self.wl.layers:
            m["engine.kernel_core_s_per_kitem"] = med("kernel_s") / n * 1e3
            m["engine.kernel_share"] = median(
                p["kernel_s"] / (p["wall_s"] * self.cores) for p in traced)
            for k in traced[0]:
                if f"engine.{k}" in m:
                    m[f"engine.{k}"] = med(k)
        # self times are differences of walls; they may come out near 0
        for name, (a, b) in self.wl.self_pairs().items():
            m[name] = prefix_s[a] - prefix_s[b]
        m.update(self.wl.layer_metrics(prefix_s, prefix_nodes))
        unread = [k for k in self.wl.layers if not (m.get(k) or 0) > 0]
        if unread:
            raise RuntimeError(f"{self.wl.name}: layer metrics read as 0: "
                               f"{', '.join(unread)}")
        return m

    # -- teardown -----------------------------------------------------------
    def close(self) -> None:
        """Stop Spark, the JVM and every other process this run started,
        and wait for them to end."""
        from perfbench.procstat import descendants, wait_for_exit
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
        self.sampler.close()
        left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        wait_for_exit(left, 30)


def table(rows: list[tuple]) -> str:
    return "\n".join(f"  {name:<36} {value:>14.6g} {unit:<6} {note}"
                     for name, value, unit, note in rows)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import photohive_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS
    t0 = time.perf_counter()
    inp, props, truth = inputs.materialize(WORK, args.workload,
                                           args.seed, args.size)
    gen_s = time.perf_counter() - t0
    runner = Runner(args, WORKLOADS[args.workload], inp, props, truth)
    try:
        runner.setup()
        # process start to the first timed pass, less input generation
        setup_s = time.perf_counter() - T_START - gen_s
        if args.trace:
            metrics, untraced, traced = runner.traced(args.seconds)
            passes = untraced + traced
        else:
            passes, usage = runner.timed(args.seconds, runner.wl.min_passes)
        runner.check()
        n_items = runner.wl.items()
    finally:
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            runner.tracer.dump(os.path.join(
                WORK, "traces",
                f"{args.workload}-s{args.seed}-{runner.tracer.run_id}.json"),
                plans=runner.plans)
        runner.close()

    print(f"perfbench {args.workload} seed={args.seed} "
          f"cores={runner.cores} loop=closed clients=1 "
          f"item={runner.wl.item!r} items/pass={n_items}")
    print(f"input: {json.dumps(props, sort_keys=True)}")
    print(f"input generation {gen_s:.2f} s (excluded from setup_s)")
    error_rate = runner.failed / max(runner.attempted, 1)
    e2e_units, layer_units = metric_units()
    if args.trace:
        units = layer_units
        rows = [(k, v, units[k], "") for k, v in metrics.items()]
        rows.append(("error_rate", error_rate, "ratio",
                     f"{runner.failed}/{runner.attempted} items"))
        overhead = 1 - (metrics["trace.traced_items_per_s"]
                        / metrics["trace.untraced_items_per_s"])
        print(table(rows))
        print(f"tracing overhead: {overhead:+.1%} items_per_s "
              f"({len(untraced)} untraced vs {len(traced)} traced passes)")
    else:
        metrics = {
            "items_per_s": median(p["items_per_s"] for p in passes),
            "cpu_s_per_kitem": median(p["cpu_s_per_kitem"] for p in passes),
            "worker_peak_rss_mb": usage["worker_peak_rss_mb"],
            "setup_s": setup_s,
        }
        units = e2e_units
        print(table([(k, v, units[k], f"n={len(passes)} passes")
                     for k, v in metrics.items() if k != "setup_s"]
                    + [("error_rate", error_rate, "ratio",
                        f"{runner.failed}/{runner.attempted} items"),
                       ("setup_s", setup_s, "s", "n=1 cold set-up")]))
    print("pass walls: " + ", ".join(f"{p['wall_s']:.3f}" for p in passes)
          + " s")
    for p in runner.problems[:20]:
        print(f"problem: {p}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted, "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
