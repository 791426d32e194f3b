#!/usr/bin/env python3
"""Benchmark entry point.

    python3 graftbench/run.py --workload gold_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints an environment record, one line per
metric (name, value, unit, sample count), and as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run (spans, self times and event-log stage metrics are also
written to ``.graftbench_work/traces/``). See graftbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".graftbench_work")

E2E_METRICS = ("setup_s", "p50_s", "p90_s", "throughput_per_s")
E2E_UNITS = {"setup_s": "s", "p50_s": "s", "p90_s": "s", "throughput_per_s": "1/s"}


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 4.0


def configure_env(run_dir: str, trace: bool) -> dict:
    """Environment for the Spark driver and its Python workers; every
    scratch path points inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    driver_gb = max(1, min(4, int(_mem_total_gb() // 4)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
    }
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        submit.append(f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{events} "
                      "--conf spark.eventLog.rolling.enabled=false --conf spark.eventLog.compress=false")
        env["EVENT_DIR"] = events
    os.environ.update({k: v for k, v in env.items() if k != "EVENT_DIR"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    tempfile.tempdir = None
    return env


class RssSampler(threading.Thread):
    """Peak resident set of the driver JVM plus its descendant processes
    (the Python workers), sampled from /proc."""

    def __init__(self, pid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.interval, self.peak_kb = pid, interval, 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree(root: int) -> list[int]:
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass  # the process ended between listing and reading
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self._tree(self.pid)))

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024


def environment_record(spark, env: dict) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    times = []
    for _ in range(3):  # fixed calibration job
        t0 = time.perf_counter()
        spark.range(0, 10_000_000, 1, sc.defaultParallelism).selectExpr(
            "sum(hash(id) % 1000) AS s").collect()
        times.append(time.perf_counter() - t0)
    return {
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEM": env["SPARK_DRIVER_MEM"],
        "PYTHONPATH": env["PYTHONPATH"],
        "default_parallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "calibration_s": statistics.median(times),
        "calibration_job": "spark.range(0, 1e7, 1, defaultParallelism)"
                           ".selectExpr('sum(hash(id) % 1000)').collect(), median of 3",
    }


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: the
    gateway process exits when its stdin closes."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("gold_mix", "llm_corpus", "ingest", "all"),
                   help="'all' runs the three workloads one after another")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        rcs = [subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                               "--seed", str(args.seed), "--seconds", str(args.seconds),
                               "--trace", str(args.trace)]).returncode
               for w in ("gold_mix", "llm_corpus", "ingest")]
        return max(rcs)
    for need in ("refitd_etl_spark/pipeline.py", "tests/oracle_compare.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"graftbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    # on SIGTERM, unwind through the finally blocks that stop Spark and
    # the oracle process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    trace = bool(args.trace)
    env = configure_env(run_dir, trace)
    sys.path.insert(0, ROOT)

    from graftbench import tracing, workloads
    from refitd_etl_spark.session import get_spark

    wl = workloads.make(args.workload)
    ctx = workloads.Ctx(seed=args.seed, seconds=args.seconds, work_dir=run_dir)
    out = workloads.Outcome()
    spark = rss = None
    try:
        wl.inputs(ctx, out)
        t0 = time.perf_counter()
        spark = ctx.spark = get_spark(app_name=f"graftbench-{args.workload}")
        start_s = time.perf_counter() - t0
        rss = RssSampler(spark.sparkContext._gateway.proc.pid)
        rss.start()
        env_rec = environment_record(spark, env)
        print(json.dumps({"env": env_rec}), flush=True)
        wl.setup(ctx, out)
        setup_s = start_s + out.setup["inputs_s"] + out.setup["warmup_s"]

        if trace:
            tracer = tracing.Tracer(spark.sparkContext)
            uninstall = tracing.install(tracer, type(spark.range(1)))
            ctx.tracer = tracer
            try:
                with tracer.span("measure") as root:
                    wl.measure(ctx, out)
            finally:
                uninstall()
        else:
            wl.measure(ctx, out)
        peak_mb = rss.stop()
        rss = None
    finally:
        wl.close()
        if rss is not None:
            rss.stop()
        if spark is not None:
            t0 = time.perf_counter()
            stop_spark(spark)
            out.report["teardown_s"] = (time.perf_counter() - t0, "s", 1)

    report = dict(out.report)
    n = len(out.samples)
    report["setup_s"] = (setup_s, "s", 1)
    report["session.start_s"] = (start_s, "s", 1)
    report["inputs_s"] = (out.setup["inputs_s"], "s", workloads.INPUT_REPS)
    report["warmup_s"] = (out.setup["warmup_s"], "s", 1)
    report["peak_rss_mb"] = (peak_mb, "MB", 1)
    report["failed_frac"] = (out.failed / max(out.attempted, 1), "ratio", out.attempted)
    e2e = {"setup_s": setup_s}
    if n:
        p50, p90, rate = wl.summary(out)
        e2e.update(p50_s=p50, p90_s=p90, throughput_per_s=rate)
        if args.workload == "ingest":
            report.update(batch_p50_s=(p50, "s", n), batch_p90_s=(p90, "s", n),
                          products_per_s=(rate, "1/s", n))
        else:
            report.update(query_p50_s=(p50, "s", n), query_p90_s=(p90, "s", n),
                          queries_per_s=(rate, "1/s", n))

    metrics: dict[str, dict] = {}
    if trace:
        stages = tracing.stage_metrics_by_group(env["EVENT_DIR"])
        layers = _layer_metrics(args, wl, tracer, root, stages, out, start_s, report)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    elif n:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E_METRICS}
        _save_untraced(args, out)

    for name, (value, unit, count) in sorted(report.items()):
        print(json.dumps({"metric": name, "value": value, "unit": unit, "n": count}))
    for msg in out.failures[:20]:
        print(json.dumps({"failure": msg}))
    result = {"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed,
              "metrics": metrics}
    print(json.dumps(result))
    return 0 if n else 1


def _layer_metrics(args, wl, tracer, root, stages, out, start_s, report) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never enters reads 0."""
    from graftbench import tracing, workloads

    layers = {"session.start_s": start_s, "peak_rss_mb": report["peak_rss_mb"][0]}
    layers.update(dict.fromkeys(workloads.PLAN_LAYERS + workloads.INGEST_LAYERS, 0.0))
    for k in workloads.INGEST_RATIOS:
        layers[k] = report[k][0] if k in report else 0.0
    layers.update(wl.layers(stages, out))
    self_s = tracing.self_times(root)
    ref = _untraced_reference(args)
    if ref and out.samples:
        # traced against untraced seconds per operation, same workload and seed
        per_op, ref_per_op = out.busy_s / len(out.samples), ref["busy_s"] / ref["n"]
        layers["trace.overhead_frac"] = per_op / ref_per_op - 1
        report["trace.overhead_base"] = ("untraced run, same workload and seed", "text", ref["n"])
    else:
        layers["trace.overhead_frac"] = tracer.hook_s / root.seconds
        report["trace.overhead_base"] = ("tracer hook time (no untraced run of this seed)",
                                         "text", 1)

    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "wall_s": root.seconds,
                   "self_s_sum": sum(self_s.values()), "self_s": self_s,
                   "hook_s": tracer.hook_s, "layers": layers,
                   "stage_metrics": stages, "spans": root.to_json(stages)}, f, indent=1)
    report["trace.wall_s"] = (root.seconds, "s", 1)
    report["trace.self_s_sum"] = (sum(self_s.values()), "s", len(self_s))
    report["trace.file"] = (os.path.relpath(path, ROOT), "path", 1)
    return layers


def _untraced_path(args) -> str:
    return os.path.join(WORK, "untraced", f"{args.workload}-seed{args.seed}.json")


def _untraced_reference(args) -> dict | None:
    try:
        with open(_untraced_path(args)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _save_untraced(args, out) -> None:
    path = _untraced_path(args)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"busy_s": out.busy_s, "n": len(out.samples), "samples": out.samples}, f)


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "_per_product")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
