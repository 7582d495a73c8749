"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload er-sparse --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_run/`` in the checkout, starts one Spark
session on ``local[4]``, sets up (input generation and write, index
build, warm-up), drives the workload for ``--seconds`` as one client in
a closed loop, checks every output against ``reference.py``, stops the
session and removes its files. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
A per-run breakdown goes to stderr as one JSON line; in a traced run it
holds the spans.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
# Untimed operations before the window: enough that an operation's CPU
# time has stopped falling as the JIT compiles (a search step takes ~2x
# its steady CPU time at first and settles after about 8 steps).
WARMUP_OPS = {"er-sparse": 2, "search-closed-loop": 8}

SPARK_METRICS_MODULES = (
    "tfidf", "similarity", "evaluation", "dedup", "streaming", "sources", "retrieval", "ann",
)
# name -> unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "jvm_peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "tfidf.tokenize_s": "s", "tfidf.idf_s": "s", "tfidf.weights_s": "s",
    "tfidf.tokens_out": "count", "tfidf.vocab_n": "count",
    "similarity.join_s": "s", "similarity.candidate_pairs": "count",
    "similarity.blocking_ratio": "ratio", "similarity.dense_path": "bool",
    "evaluation.sweep_s": "s", "evaluation.pairs_tagged": "count",
    "dedup.batch_s": "s", "dedup.docs_in": "count", "dedup.kept": "count",
    "dedup.exact_dup_history": "count", "dedup.near_dup_history": "count",
    "dedup.near_dup_batch": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "sources.state_bytes_written": "B", "sources.flags_bytes_written": "B",
    "sources.files_written": "count", "sources.state_bytes_per_input_byte": "ratio",
    "retrieval.plan_ms": "ms", "retrieval.exec_ms": "ms",
    "ann.plan_ms": "ms", "ann.exec_ms": "ms", "ann.recall_at_k": "ratio",
    "ann.index_build_s": "s", "retrieval.index_build_s": "s",
    "trace.untraced_op_p50_ms": "ms", "trace.traced_op_p50_ms": "ms",
    "trace.overhead_ms": "ms", "trace.spans": "count", "trace.untraced_op_cpu_ms": "ms",
}


def start_spark(work: str, trace: bool):
    from sparkbigdatatextanalysis_spark.session import get_spark

    # A fixed set of JIT compiler threads: cpu_clock subtracts their CPU
    # time, which a thread that exits would take with it.
    # -UsePerfData: no hsperfdata files outside the checkout.
    java_opts = (
        "-XX:-UseDynamicNumberOfCompilerThreads "
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    )
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    return get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssPeak(threading.Thread):
    """Samples the resident memory (VmRSS) of a process until stopped;
    ``peak_mb`` is the largest sample."""

    def __init__(self, pid: int, interval: float = 0.05):
        super().__init__(daemon=True)
        self.path = f"/proc/{pid}/status"
        self.interval = interval
        self.peak_mb = 0.0
        self._stop_event = threading.Event()

    def sample(self) -> None:
        with open(self.path) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    self.peak_mb = max(self.peak_mb, int(line.split()[1]) / 1024)
                    return

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        self.sample()
        return self.peak_mb


def cpu_clock(jvm_pid: int):
    """CPU seconds used so far by this process and the Spark JVM, not
    counting the JVM's JIT compiler threads. Under the default tiered
    JIT those threads take about half of an operation's CPU time for the
    whole run, falling from op to op (ER job: 11 s of 19 s at the second
    job, 6 s of 13 s at the ninth), so a median that counted them would
    depend on where the window falls in the warm-up; without them an
    operation's CPU time is flat from the third operation on."""
    proc, tick = f"/proc/{jvm_pid}", os.sysconf("SC_CLK_TCK")

    def ticks(stat: str) -> int:
        with open(stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime

    def now() -> float:
        n = ticks(f"{proc}/stat")
        for tid in os.listdir(f"{proc}/task"):
            try:
                with open(f"{proc}/task/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        n -= ticks(f"{proc}/task/{tid}/stat")
            except (FileNotFoundError, ProcessLookupError):
                pass  # the thread ended between listdir and the read
        own = os.times()
        return n / tick + own.user + own.system

    return now


def timed_loop(w, spark, seconds: float, first: int, cpu, tracer=None):
    """Run operations back to back until ``seconds`` have passed. With a
    tracer, every other operation is traced, so traced and untraced
    operations share the same JIT state and machine load."""
    from workloads import Op

    ops, i = [], first
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        traced = tracer is not None and i % 2 == 1
        c0 = cpu()
        try:
            new = w.run_op(spark, i, tracer if traced else None)
        except Exception:
            traceback.print_exc()
            new = [Op(math.nan, lambda: False)]
        for op in new:
            op.cpu = (cpu() - c0) / len(new)
            op.traced = traced
        ops += new
        i += 1
    return ops


def layer_metrics(tracer, ops, layer: dict, event_log: str) -> tuple[dict, dict]:
    """Per-layer values and units from the spans, the traced operations,
    the build/ingest-probe numbers in ``layer`` and the event log."""
    from spans import SPARK_METRICS, stage_metrics

    values = dict.fromkeys(LAYER_UNITS, 0.0)
    values.update(layer)
    for name in ("tfidf.tokenize", "tfidf.idf", "tfidf.weights", "similarity.join", "evaluation.sweep"):
        d = tracer.durations(name)
        if d:
            values[f"{name}_s"] = statistics.median(d)
    for s in tracer.spans:  # boundary counts: last value of each
        for k, v in s["counts"].items():
            key = f"{s['name'].split('.')[0]}.{k}"
            if key in values:
                values[key] = v
    traced = [op for op in ops if op.traced]
    for key in ("retrieval.plan_ms", "retrieval.exec_ms", "ann.plan_ms", "ann.exec_ms", "ann.recall_at_k"):
        vals = [op.layer[key] for op in traced if key in op.layer]
        if vals:
            values[key] = statistics.median(vals) if key.endswith("_ms") else statistics.mean(vals)
    for key, part in (("untraced", [op for op in ops if not op.traced]), ("traced", traced)):
        values[f"trace.{key}_op_p50_ms"] = 1000 * statistics.median(
            op.seconds for op in part if not math.isnan(op.seconds)
        )
    values["trace.overhead_ms"] = values["trace.traced_op_p50_ms"] - values["trace.untraced_op_p50_ms"]
    values["trace.untraced_op_cpu_ms"] = 1000 * statistics.median(op.cpu for op in ops if not op.traced)
    values["trace.spans"] = len(tracer.spans)
    units = dict(LAYER_UNITS)
    spark_stats = stage_metrics(event_log, tracer)
    for mod in SPARK_METRICS_MODULES:
        for m, unit in SPARK_METRICS:
            units[f"{mod}.spark_{m}"] = unit
            values[f"{mod}.spark_{m}"] = spark_stats.get(mod, {}).get(m, 0.0)
    return values, units


def run(args, work: str) -> dict:
    import workloads
    from spans import Tracer

    diag: dict = {"workload": args.workload, "seed": args.seed}
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    try:
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        w = workloads.WORKLOADS[args.workload](args.seed)
        t = time.perf_counter()
        w.prepare(f"{work}/input")
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        layer = w.build(spark)
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = WARMUP_OPS[args.workload]
        for i in range(warm):
            w.run_op(spark, i)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + prepare_s + build_s + warmup_s
        diag.update(session_s=session_s, prepare_s=prepare_s, build_s=build_s, warmup_s=warmup_s)
        w.expect()

        tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}") if args.trace else None
        rss = RssPeak(jvm_pid)
        rss.start()
        # a traced run measures twice as long: half its operations are traced
        ops = timed_loop(w, spark, args.seconds * (1 + bool(args.trace)), warm, cpu_clock(jvm_pid), tracer)
        rss_mb = rss.stop()
        checks = [bool(op.check()) for op in ops]
        checks += w.verify(spark)
        if args.trace:
            probe, probe_checks = w.traced_probe(spark, f"{work}/probe", tracer)
            layer.update(probe)
            checks += probe_checks
    finally:
        stop_spark(spark)

    attempted, failed = len(checks), checks.count(False)
    plain = [op for op in ops if not op.traced]
    diag.update(op_s=[op.seconds for op in plain], op_cpu_s=[op.cpu for op in plain], rss_mb=rss_mb, build=layer)

    if args.trace:
        metrics, units = layer_metrics(tracer, ops, layer, f"{work}/eventlog")
        diag["spans"] = tracer.spans
    else:
        op_cpu_ms = 1000 * statistics.median(op.cpu for op in ops)
        metrics = {"setup_s": setup_s, "op_cpu_ms": op_cpu_ms, "jvm_peak_rss_mb": rss_mb}
        units = END_TO_END
    print(json.dumps(diag), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WARMUP_OPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
