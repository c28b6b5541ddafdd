"""The measured process of one benchmark run.

Started fresh by ``run.py`` for every run: it sets up one Spark session
on ``local[N]``, runs the workload's cold pass and then warm passes for
the given number of seconds, checks every pass's outputs outside the
timed window, and writes its figures to ``result.json`` in the work
directory.  With ``--trace 1`` it adds one traced pass and the
per-layer metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402
import procstat  # noqa: E402


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


HEAP = "2g"


def session_conf(work: str) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory, and
    start the driver heap at its full size, so heap growth over the first
    passes does not add to the run-to-run spread."""
    return {
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms{HEAP}"
        ),
    }


def setup(args) -> tuple[object, dict]:
    """Session up, with one JVM job and one Arrow pandas-UDF job done.
    Returns the session and the set-up timings; ``setup_s`` counts from
    the launcher's spawn of this interpreter."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from mapreduce_framework_for_mergesort_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(
        app_name=f"graftbench-{args.workload}",
        master=f"local[{args.cores}]",
        extra_conf=session_conf(args.work),
    )
    t1 = time.time()
    spark.range(0, 1_000_000, numPartitions=args.cores).selectExpr("sum(id)").collect()
    t2 = time.time()

    plus_one = pandas_udf(_plus_one, "long")
    spark.range(0, 100_000, numPartitions=args.cores).select(
        F.sum(plus_one("id"))
    ).collect()
    t3 = time.time()
    return spark, {
        "setup_s": t3 - args.t0,
        "session.get_spark_s": t1 - t0,
        "session.first_job_s": t2 - t1,
        "session.py_worker_warm_s": t3 - t2,
    }


class Runner:
    """Runs passes of one workload and keeps their figures."""

    def __init__(self, spark, wl):
        self.spark, self.wl = spark, wl
        self.pid = os.getpid()
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []
        self.views: list[int] = []

    def run_pass(self) -> dict:
        results, op_s = {}, {}
        cpu0 = procstat.tree_cpu_s(self.pid)
        t0 = time.time()
        for key, fn in self.wl.ops():
            self.attempted += 1
            t = time.time()
            try:
                results[key] = fn()
            except Exception:
                traceback.print_exc()
                self.failures.append(f"op.{key}")
            op_s[key] = time.time() - t
        wall = time.time() - t0
        cpu = procstat.tree_cpu_s(self.pid) - cpu0
        self.verify(results)
        rec = {"wall_s": wall, "cpu_s": cpu, "op_s": op_s}
        self.last_results = results
        self.passes.append(rec)
        return rec

    def end_pass(self) -> None:
        self.last_results = {}
        self.hygiene()

    def verify(self, results: dict) -> None:
        try:
            checks = self.wl.check(results)
        except Exception:
            traceback.print_exc()
            checks = [(f"{self.wl.name}.check", False)]
        for name, ok in checks:
            self.attempted += 1
            if not ok:
                self.failures.append(name)

    def hygiene(self) -> None:
        self.wl.hygiene()
        gc.collect()
        self.spark._jvm.System.gc()
        self.views.append(sum(1 for t in self.spark.catalog.listTables() if t.isTemporary))


def traced(spark, wl, runner: Runner, untraced_pass_s: float) -> dict:
    """One traced pass: spans around the layer calls, then Spark's
    counters for the jobs each span caused."""
    import layers
    import sparkmetrics as SM
    import spans as S

    tr = S.Tracer(spark, pass_id=len(runner.passes))
    root = tr.open("pass")
    out = wl.traced_pass(tr)
    tr.close(root)
    runner.verify(out["results"])
    rec = layers.PassRecord(SM.SparkRest(spark), tr, root)
    m = layers.compute(rec, out["counts"], untraced_pass_s)
    runner.hygiene()
    return {"metrics": m, "accounting": layers.accounting(rec, m), "spans": tr.records(rec.self_s)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--inject-fault", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    import workloads

    with open(os.path.join(args.work, "meta.json")) as f:
        meta = json.load(f)
    steal0 = procstat.steal_s()
    with procstat.RssSampler(os.getpid()) as rss:
        spark, session = setup(args)
        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(args.work, "data"), meta, args.inject_fault
        )
        runner = Runner(spark, wl)
        cold = runner.run_pass()
        gates = wl.gates(runner.last_results)
        runner.end_pass()
        warmup = workloads.WARMUP_PASSES.get(args.workload, 0)
        for _ in range(warmup):
            runner.run_pass()
            runner.end_pass()
        first = 1 + warmup
        t_warm = time.time()
        while len(runner.passes) == first or time.time() - t_warm < args.seconds:
            runner.run_pass()
            runner.end_pass()
        warm = runner.passes[first:]
        wall = [p["wall_s"] for p in warm]
        cpu_all = sum(p["cpu_s"] for p in runner.passes)
        wall_all = sum(p["wall_s"] for p in runner.passes)
        run_metrics = {
            "host.steal_s": procstat.steal_s() - steal0,
            "host.cpu_util": cpu_all / (wall_all * (os.cpu_count() or 1)),
            **{k: v for k, v in session.items() if k.startswith("session.")},
            **{
                f"queries.{key}_s": statistics.median(p["op_s"][key] for p in warm)
                for key in workloads.KEYS[args.workload]
            },
        }
        layer = traced(spark, wl, runner, statistics.median(wall)) if args.trace else None
        runner.attempted += 1
        if runner.views[-1] != runner.views[0]:
            runner.failures.append("hygiene.views")
        spark.stop()
    run_metrics["mem.jvm_peak_rss_mb"] = rss.jvm_peak
    run_metrics["mem.worker_peak_rss_mb"] = rss.worker_peak
    if layer:
        layer["metrics"].update(run_metrics)
    result = {
        "setup_s": session["setup_s"],
        "cold_pass_s": cold["wall_s"],
        "pass_s": statistics.median(wall),
        "pass_samples": len(wall),
        "warmup_passes": warmup,
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "py_peak_rss_mb": rss.py_peak,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "passes": runner.passes,
        "run_metrics": run_metrics,
        "layers": layer,
        "gates": gates,
    }
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
