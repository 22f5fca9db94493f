"""synspark benchmark: one workload, one seed, one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {serve,dedup} \\
        --seed N --seconds S --trace {0,1}

The run starts Spark on ``local[<cores>]``, generates the workload's
inputs from the seed, sets up several times (``setup_s`` is the median),
measures the closed loop for ``--seconds`` (whole rounds or passes, so
the last one may end a little later), checks the outputs outside
the timed region and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the loop runs with spans and per-op Spark counters and the
metrics are the per-layer ones (see ``layers.py``). A line starting
``perfbench-detail`` before it carries the workload's own names for the
end-to-end numbers, the framework control probes, the sample counts and
the loop's tail latency (reported, not gated: in a loop of a few dozen
ops the tail percentile is near the median and rests on few samples).
Every file the run writes stays under ``.perfbench_work`` (removed at
exit) and ``.perfbench_out`` (traces) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WATCHDOG_S = 170
# the loop's own ops, per workload: what the per-op Spark figures divide by
LOOP_OPS = {
    "serve": {"query"},
    "dedup": {f"dedup.{s}" for s in ("exact", "shingles", "minhash", "lsh",
                                     "drop_list", "simhash_sig",
                                     "simhash_join")},
}
# the workload's own name for the end-to-end throughput
THROUGHPUT_NAME = {"serve": "query_qps", "dedup": "dedup_docs_per_s"}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(LOOP_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_to(work: Path) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM
    at ``work`` (inside the checkout)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher's too: temp files here, and no
    # perf-data file (the JVM writes that under /tmp whatever tmpdir is)
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = str(tmp)


def start_spark(work: Path, cpus: int, traced: bool):
    from synspark.session import get_spark
    extra = {
        "spark.local.dir": str(work / "spark-local"),
        # a fixed-size heap (initial = max): the footprint then does not
        # depend on when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": "-Xms2g",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the inputs are small; a bounded heap keeps the footprint small
        "spark.driver.memory": "2g",
    }
    if traced:
        # the status REST endpoint (per-stage bytes and times) needs the UI
        extra.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                      "spark.ui.retainedJobs": "20000",
                      "spark.ui.retainedStages": "20000"})
    spark = get_spark(app="synspark-perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def control_probes(spark, cpus: int) -> dict:
    """Framework floors no synspark change should move: a one-task job
    and a grouped-map (applyInPandas) round trip."""
    import pandas as pd
    from pyspark.sql import functions as F

    def once(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def ident(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    empty = [once(lambda: spark.range(0, 1, 1, 1).count())
             for _ in range(7)]
    grouped = spark.range(0, 64 * cpus, 1, cpus) \
        .withColumn("g", F.col("id") % cpus)
    gmap = [once(lambda: grouped.groupBy("g")
                 .applyInPandas(ident, "id long, g long").collect())
            for _ in range(5)]
    return {"spark.empty_job_ms": 1e3 * statistics.median(empty[2:]),
            "spark.grouped_map_ms": 1e3 * statistics.median(gmap[1:])}


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every descendant process
    (JVM, Python workers) has exited."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — escalate below
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_descendants(timeout=30)


def reap_descendants(timeout: float) -> None:
    from spans import descendants
    end = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < end:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < end + 10:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def watchdog(seconds: float) -> threading.Timer:
    """Kill the whole process tree if the run hangs past ``seconds``."""
    def fire():
        print(f"perfbench: run exceeded {seconds}s, aborting",
              file=sys.stderr, flush=True)
        from spans import descendants
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)
    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


def end_to_end(res: dict, setup_s: list, mem_mb: float) -> tuple:
    from spans import percentile, tail
    lat_ms = [1e3 * x for x in res["latencies"]]
    t_val, t_pct, n = tail(lat_ms)
    return {
        "setup_s": (statistics.median(setup_s), "s"),
        "throughput_per_s": (res["throughput"], "1/s"),
        "op_p50_ms": (percentile(lat_ms, 0.5), "ms"),
        "mem_peak_mb": (mem_mb, "MB"),
    }, {"op_tail_ms": t_val, "op_tail_pct": t_pct, "ops": n}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "synspark" / "__init__.py").is_file():
        print(f"perfbench: no synspark package under {ROOT}; run from the "
              "root of a synspark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import warnings
    warnings.filterwarnings("ignore", category=UserWarning)

    from spans import MemSampler, SparkCounter, Tracer
    from workloads import WORKLOADS, Ctx

    guard = watchdog(WATCHDOG_S)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-" \
        f"{os.getpid()}"
    confine_to(work)
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    traced = bool(args.trace)
    mem = MemSampler().start()
    spark = None
    phases: dict[str, float] = {}
    clock = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    try:
        spark = start_spark(work, cpus, traced)
        phase("jvm_start")
        tracer = Tracer(enabled=traced)
        ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                  work=work, cpus=cpus, tracer=tracer,
                  counter=SparkCounter(spark) if traced else None)
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        phase("inputs")
        wl.setup()
        phase("setup")
        controls = control_probes(spark, cpus)
        phase("controls")
        wl.warm_up()
        phase("warm_up")
        res = wl.loop()
        phase("loop")
        if not res["latencies"]:
            raise RuntimeError("no op of the loop completed")
        wl.check()
        phase("check")
        if traced:
            from layers import Ledger
            ledger = Ledger(ctx, wl, LOOP_OPS[args.workload])
            layer = ledger.collect()
            phase("layers")
        mem_mb = mem.stop()
    finally:
        if spark is not None:
            stop_spark(spark)
        mem.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work dir is still there
        guard.cancel()
    phase("stop")

    e2e, tail_info = end_to_end(res, wl.setup_s, mem_mb)
    detail = {
        "workload": args.workload, "seed": args.seed, "traced": traced,
        THROUGHPUT_NAME[args.workload]: e2e["throughput_per_s"][0],
        "failed_frac": ctx.failed / max(ctx.attempted, 1),
        "phase_s": phases, "setup_samples_s": wl.setup_s,
        "mem_peak_by_command": mem.peak_by_command,
        **tail_info, **res.get("detail", {}), **controls,
        "errors": ctx.errors[:5],
    }
    if traced:
        out_dir = ROOT / ".perfbench_out"
        tracer.write(str(out_dir / f"{args.workload}-seed{args.seed}"
                         "-trace.jsonl"))
        detail["probed_layers"] = ledger.probed
        detail["self_time_s"] = tracer.self_times()
        metrics = {**layer,
                   "spark.empty_job_ms": (controls["spark.empty_job_ms"],
                                          "ms"),
                   "spark.grouped_map_ms": (controls["spark.grouped_map_ms"],
                                            "ms"),
                   "trace.op_p50_ms": e2e["op_p50_ms"],
                   "trace.overhead_ms_per_op": (
                       1e3 * (tracer.overhead_s + ctx.counter.overhead_s)
                       / max(ctx.attempted, 1), "ms")}
    else:
        metrics = e2e
    print("perfbench-detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
