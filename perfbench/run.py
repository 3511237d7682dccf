#!/usr/bin/env python3
"""Seeded end-to-end benchmark of ollie_spark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 \
        --trace 0

Run from the root of a source checkout.  One process builds one Spark
session on ``local[N]`` (N = usable cores), generates the workload's
inputs from ``--seed``, sets up (session + one untimed warm-up call),
times calls into the program for ``--seconds``, checks the outputs
outside the timed region, and prints one JSON object as the last line
of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
set-up and timed loop with spans, Spark job tags and an event log, then
again untraced, and reports the per-layer metrics instead
(BENCHMARK.json lists both sets; perfbench/DESIGN.md says which layer
metric should move which end-to-end metric).  Everything the run writes
stays under ``.perfbench_work/`` (deleted at exit) and
``.perfbench_out/`` (the span file of a traced run).
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
import time
import traceback

from instruments import (EventLog, RssSampler, Tracer, descendants,
                         event_log_conf, tree_rss_bytes)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("share", "skew", "per_sentence",
                      "precision", "recall")):
        return "ratio"
    return "count"


class Session:
    """Owns the Spark session(s) of one run and the JVM behind them."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.spark = None

    def start(self, extra: dict | None = None):
        from ollie_spark.spark.session import build_session

        conf = {
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        conf.update(extra or {})
        self.spark = build_session(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=max(8, self.cores), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop the session, then the JVM and its Python workers, and
        wait until every process this run started has exited."""
        from pyspark import SparkContext

        self.stop()
        procs = descendants(os.getpid())
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 20
        while procs and time.monotonic() < deadline:
            procs = [p for p in procs if _alive(p)]
            time.sleep(0.1)
        for pid, _ in procs:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(proc) -> bool:
    """True while the (pid, start time) process still exists."""
    pid, started = proc
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[19] == started and fields[0] != "Z"


def retained_bytes(spark) -> int:
    """Memory still held after a timed call: the JVM's heap and
    non-heap in use after a full GC, plus the RSS of the Python
    processes (driver and workers).  Steadier than peak RSS, which
    mostly shows how far the JVM heap happened to expand."""
    from pyspark import SparkContext

    jvm = spark._jvm
    # the first collection queues the references whose blocks Spark's
    # context cleaner frees asynchronously (broadcasts, shuffles); the
    # second, after the cleaner has run, reclaims them
    jvm.java.lang.System.gc()
    time.sleep(1)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    java = (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed())
    jvm_pid = SparkContext._gateway.proc.pid
    python = (tree_rss_bytes(os.getpid())
              - tree_rss_bytes(jvm_pid, descend=False))
    return java + python


def measure(wl, spark, seconds: float,
            retained: list | None = None) -> tuple[list, int, int]:
    """Call the workload's op until ``seconds`` have passed (at least
    once).  -> (walls of successful calls, items, failed calls)."""
    walls, items, failed = [], 0, 0
    deadline = time.monotonic() + seconds
    while True:
        wl.release(spark)
        # every call starts from a collected heap, so a collection the
        # previous call left pending does not land in this call's wall
        spark._jvm.java.lang.System.gc()
        t0 = time.monotonic()
        try:
            with wl.tr.span(wl.op_span):
                n = wl.op(spark)
        except Exception:  # noqa: BLE001 — a raising call is a failure
            traceback.print_exc()
            failed += 1
        else:
            walls.append(time.monotonic() - t0)
            items += n
        if retained is not None:
            retained.append(retained_bytes(spark))
        if time.monotonic() >= deadline:
            return walls, items, failed


def run(args) -> dict:
    # importable only once the checkout root is on sys.path (main)
    from workloads import PER_LAYER, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # temp files of Python (the py4j connection info) and of every JVM
    # (the launcher's and the driver's) stay inside the checkout too
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tr = Tracer(False, run_id)
    wl = WORKLOADS[args.workload](args.seed, work, cores, tr,
                                  bool(args.trace))
    sess = Session(work, cores)
    try:
        t0 = time.monotonic()
        wl.make_inputs()
        gen_s = time.monotonic() - t0
        if args.trace:
            return _traced(args, wl, sess, tr, work, cores, gen_s, PER_LAYER)
        t0 = time.monotonic()
        spark = sess.start()
        wl.setup(spark, "untraced")
        setup_s = time.monotonic() - t0
        retained: list = []
        walls, items, failed_calls = measure(wl, spark, args.seconds,
                                             retained)
        chk = wl.check(spark)
        sess.stop()
        attempted = len(walls) + failed_calls + chk.attempted
        failed = failed_calls + chk.failed
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (items / sum(walls), "items/s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "precision": (chk.precision, "ratio"),
            "recall": (chk.recall, "ratio"),
            "ok_share": (1 - failed / attempted, "ratio"),
            "retained_mb": (max(retained) / 2**20, "MB"),
        }
        return _result(chk, attempted, failed, metrics)
    finally:
        try:
            sess.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _traced(args, wl, sess, tr, work, cores, gen_s, per_layer) -> dict:
    """The per-layer run: set-up, timed loop, decomposition and checks in
    a session with spans and an event log, then set-up and timed loop
    again in an untraced session of the same JVM.  The untraced loop
    runs second, with the JIT further warmed, so the overhead it yields
    is an upper bound."""
    log_dir = f"{work}/eventlog"
    os.makedirs(log_dir)
    with RssSampler() as rss:
        tr.enabled = True
        t0 = time.monotonic()
        with tr.span("session.build_session"):
            spark = sess.start(event_log_conf(log_dir))
        start_s = time.monotonic() - t0
        tr.spark = spark
        t0 = time.monotonic()
        wl.setup(spark, "traced")
        warm_s = time.monotonic() - t0
        t_walls, _, failed_calls = measure(wl, spark, args.seconds)
        with tr.span("bench.layers"):
            layers = wl.layers(spark)
        with tr.span("bench.check"):
            chk = wl.check(spark)
        sess.stop()
        tr.enabled, tr.spark = False, None
        # session builder options outlive the session: switch the event
        # log off explicitly
        spark = sess.start({"spark.eventLog.enabled": "false"})
        wl.setup(spark, "untraced")
        walls, _, failed = measure(wl, spark, args.seconds)
        sess.stop()
    attempted = len(t_walls) + len(walls) + failed_calls + failed
    attempted += chk.attempted
    failed += failed_calls + chk.failed

    log = EventLog(next(os.scandir(log_dir)).path)
    ops = len(t_walls)
    vals = dict.fromkeys(per_layer, 0)
    vals.update(layers)
    vals.update(chk.layers)
    vals["bench.input_gen_s"] = gen_s
    vals["bench.peak_rss_mb"] = rss.peak / 2**20
    vals["bench.ops"] = ops
    vals["session.start_s"] = start_s
    vals["session.warmup_s"] = warm_s
    vals["trace.untraced_op_s"] = statistics.median(walls)
    vals["trace.traced_op_s"] = statistics.median(t_walls)
    vals["trace.overhead_s"] = (vals["trace.traced_op_s"]
                                - vals["trace.untraced_op_s"])
    for name, s in tr.self_times().items():
        key = f"self.{name.split('.', 1)[0]}_s"
        if key in vals:
            vals[key] += s
    totals = log.spark_totals({wl.op_span})
    for k, v in totals.items():
        vals[f"spark.{k}"] = v / ops
    vals["spark.core_busy_share"] = (totals["executor_run_s"]
                                     / (sum(t_walls) * cores))
    vals.update(wl.from_log(log, ops, vals))

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tr.write(f"{out_dir}/trace-{tr.run_id}.json")
    print(json.dumps({"workload": wl.name, "input": wl.input_size,
                      "self_s": tr.self_times()}), file=sys.stderr)
    metrics = {k: (vals[k], _unit(k)) for k in per_layer}
    return _result(chk, attempted, failed, metrics)


def _result(chk, attempted: int, failed: int, metrics: dict) -> dict:
    for note in chk.notes:
        print(f"check: {note}", file=sys.stderr)
    return {"correct": failed == 0 and not chk.notes,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "ollie_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} is not an ollie_spark source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
