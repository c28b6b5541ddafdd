"""Benchmark launcher.

    python3 graftbench/run.py --workload sort_ints --seed 1 --seconds 10 --trace 0

Run from the repository root.  The launcher generates the workload's
inputs from ``--seed`` into a private work directory, starts one fresh
measured process (``measure.py``) on ``local[N]``, waits for it, stops
every process it left behind, removes the work directory and prints
every metric by name and unit.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones from a separate traced pass.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "mapreduce_framework_for_mergesort_spark"
# local[N]: one core of a four-core host stays free for the driver
# Python, the Python workers and the OS, which steadies the figures
CORES = 3
# a run must end within 180 s; leave room for cleanup
RUN_DEADLINE_S = 165

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "cpu_s": "CPU-s",
    "py_peak_rss_mb": "MB",
    "success_rate": "fraction",
}

_PR_SET_CHILD_SUBREAPER = 36


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("dedup.pair_yield", "dedup.distinct_ratio", "streaming.task_skew"):
        return "ratio"
    if name == "host.cpu_util":
        return "fraction"
    return "count"


def registered_per_layer() -> list[str]:
    """The per-layer metrics BENCHMARK.json lists: the traced run's JSON
    line carries exactly these.  The streaming ones are left out of it
    because no registered workload streams; they still print above."""
    with open("BENCHMARK.json") as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def _children(pid: int) -> list[int]:
    import procstat

    return [p for p in procstat.descendants(pid) if p != pid]


def stop_descendants(timeout: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every process below this one, and reap them.
    As a child subreaper this process inherits orphaned grandchildren
    (the JVM, Python workers), so none escapes."""
    me = os.getpid()
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        pids = _children(me)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 1.0
        while time.time() < end and _children(me):
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if time.time() > deadline:
            sig = signal.SIGKILL


def main(argv=None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke tests")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt each output before its check (smoke tests)")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)) or not os.path.isfile(
        os.path.join(root, "__spark_entry__.py")
    ):
        print(f"error: {PACKAGE} not found; run from the repository root", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = min(CORES, os.cpu_count() or 1)
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    work = os.path.join(root, ".graftbench_work", f"{args.workload}-{os.getpid()}")
    data = os.path.join(work, "data")
    for d in (data, os.path.join(work, "tmp"), os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    log_path = os.path.join(work, "measure.log")
    result = None
    try:
        meta = workloads.generate(args.workload, args.seed, data, args.size)
        with open(os.path.join(work, "meta.json"), "w") as f:
            json.dump(meta, f)
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            TMPDIR=os.path.join(work, "tmp"),
            # the short JVM spark-submit starts first would write /tmp/hsperfdata_*
            SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        cmd = [
            sys.executable, os.path.join(HERE, "measure.py"),
            "--workload", args.workload, "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
        ] + (["--inject-fault"] if args.inject_fault else [])
        with open(log_path, "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(cmd + ["--t0", repr(t0)], stdout=log, stderr=log, env=env, cwd=root)
            try:
                rc = proc.wait(timeout=max(10.0, RUN_DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                rc = None
        res_path = os.path.join(work, "result.json")
        if rc == 0 and os.path.exists(res_path):
            with open(res_path) as f:
                result = json.load(f)
        else:
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"error: measured process {why}; log tail:", file=sys.stderr)
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if result is None:
        return 1
    return report(args, cores, meta, result)


def report(args, cores: int, meta: dict, r: dict) -> int:
    success = (r["attempted"] - r["failed"]) / r["attempted"]
    e2e = {
        "setup_s": r["setup_s"],
        "cold_pass_s": r["cold_pass_s"],
        "pass_s": r["pass_s"],
        "cpu_s": r["cpu_s"],
        "py_peak_rss_mb": r["py_peak_rss_mb"],
        "success_rate": success,
    }
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  closed loop, 1 client")
    print(f"input {meta['input_bytes'] / 2**20:.3f} MiB  rows {meta['rows']}")
    for gate, g in (r.get("gates") or {}).items():
        print(f"gate {gate}: measured {g['measured']} vs {g['threshold']} -> {g['side']}")
    passes = r["passes"]
    print("passes (s): cold {:.3f} | warm-up {} | timed {}".format(
        passes[0]["wall_s"],
        " ".join(f"{p['wall_s']:.3f}" for p in passes[1 : 1 + r["warmup_passes"]]) or "-",
        " ".join(f"{p['wall_s']:.3f}" for p in passes[1 + r["warmup_passes"] :]),
    ))
    for name, value in e2e.items():
        extra = f"  (median of {r['pass_samples']} warm passes)" if name in ("pass_s", "cpu_s") else ""
        print(f"{name} {value:.4f} {END_TO_END[name]}{extra}")
    for name, value in sorted(r["run_metrics"].items()):
        print(f"{name} {value:.4f} {unit_of(name)}")
    if r["failures"]:
        print("failed: " + ", ".join(r["failures"]))
    if args.trace:
        layer = r["layers"]
        t0 = layer["spans"][0]["start"]
        for s in layer["spans"]:
            print(
                f"span {s['id']} {s['name']} parent={s['parent']} pass={s['pass_id']} "
                f"start={s['start'] - t0:.3f} end={s['end'] - t0:.3f} self={s['self_s']:.3f} "
                f"forced={sum(e - b for b, e in s['forced']):.3f}"
            )
        for k, v in layer["metrics"].items():
            print(f"layer {k} {v:.4f} {unit_of(k)}")
        metrics = {
            k: {"value": layer["metrics"][k], "unit": unit_of(k)} for k in registered_per_layer()
        }
        acc = layer["accounting"]
        print(
            "trace accounting: pass {pass_s:.3f} s = layer self {self_s:.3f} + benchmark glue "
            "{glue_s:.3f} + driver gap {gap_s:.3f} + forced inputs {forced_s:.3f} + residual "
            "{residual_s:.3f}".format(**acc)
        )
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
