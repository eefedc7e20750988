#!/usr/bin/env python3
"""Benchmark of the gfwspark engine: one workload, one seed, one fresh
local[4] Spark driver.

    python3 perfbench/run.py --workload featurize_job --seed 1 \\
        --seconds 15 --trace 0

Workloads: featurize_job, corpus_prep (perfbench/workloads.py).
Runs from any working directory.  Everything it writes stays under the
checkout root: seeded inputs in .perfbench_cache/ (kept, keyed by
workload, seed, size and generator), Spark scratch and outputs in .perfbench_work/
(removed at exit), span dumps of traced runs in .perfbench_traces/.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones; a per-layer metric of a module the
workload does not call reads 0.  The last line of standard output is
the result; the line before it holds the diagnostics (input key, host,
CPU steal, every sample, check failures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = 4
#: the driver JVM starts with its whole heap (-Xms = -Xmx).  A heap that
#: G1 grows on demand made peak_rss_mb of the same code swing between
#: 1.6 and 3.4 GB from run to run; with the whole heap from the start,
#: peak_rss_mb moves with the memory outside it (Python driver and
#: workers, Arrow buffers, JVM metaspace and threads)
DRIVER_HEAP = "3g"
SETUPS = 5
READS_PER_OP = 3
#: the spans a workload's trace_op() opens around its write and read
OP_SPANS = ("op.write", "op.read")

sys.path.insert(0, str(HERE))

import procfs  # noqa: E402


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def prepare_environment(work: Path) -> None:
    """Point every scratch path of Spark, the JVM and Python at ``work``
    and put the checkout on the Python workers' import path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))


def open_session(work: Path, trace: bool):
    from gfwspark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CPUS}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(wl, work: Path, trace: bool):
    """One set-up: session start, input registration and first action.
    Returns (spark, get_spark seconds)."""
    t0 = time.perf_counter()
    spark = open_session(work, trace)
    t1 = time.perf_counter()
    wl.register(spark)
    return spark, t1 - t0


def shut_down(spark) -> None:
    """Stop the session and the driver JVM, and wait until the JVM and
    every Python worker under it have exited."""
    from pyspark import SparkContext

    children = procfs.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    procfs.reap(children)


class Sample:
    """One timed call: its wall time, and that wall time net of CPU
    steal (procfs.runnable_steal_share), which is what the end-to-end
    metrics use.  On a shared host the hypervisor takes CPU time from
    the guest in episodes that can span a whole run, so whole runs
    stretch with it; the net time is about what the same work takes on
    CPUs of its own.  The diagnostics keep both."""

    def __init__(self, fn):
        c0, t0 = procfs.cpu_times(), time.perf_counter()
        self.result = fn()
        self.wall_s = time.perf_counter() - t0
        self.steal = procfs.runnable_steal_share(c0, procfs.cpu_times())
        self.net_s = self.wall_s * (1 - self.steal)


def op_loop(wl, spark, seconds: float, samples: int):
    """Closed loop, one client: a write, then READS_PER_OP reads of what
    it wrote.  The workload's first ``warmup_ops`` operations warm the
    JIT and are not samples.  Then sampled operations run while the next
    one is expected to end within ``seconds``, and until at least
    ``samples`` of them completed.  Returns the sampled writes and
    reads (Sample), the input rows of one write, failures and the
    attempted writes and reads."""
    writes, reads, failures = [], [], []
    rows = 0
    i = 0
    t_start = None
    while True:
        if len(writes) >= samples:
            expected = statistics.median(s.wall_s for s in writes)
            expected += READS_PER_OP * statistics.median(s.wall_s for s in reads)
            if time.perf_counter() - t_start + expected > seconds:
                break
        sampled = i >= wl.warmup_ops
        if sampled and t_start is None:
            t_start = time.perf_counter()
        try:
            write = Sample(lambda: wl.write(spark, i))
            rows = write.result
            op_reads = [Sample(lambda: wl.read(spark, i)) for _ in range(READS_PER_OP)]
            wl.retire(i)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            failures.append(traceback.format_exc())
            break
        if sampled:
            writes.append(write)
            reads.extend(op_reads)
        i += 1
    attempted = i * (1 + READS_PER_OP) + len(failures)
    return writes, reads, rows, failures, attempted


def end_to_end(wl, work: Path, seconds: float) -> tuple[dict, dict, int, list[str]]:
    setups = []
    spark = None
    with procfs.RssSampler() as rss:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            setup = Sample(lambda: set_up(wl, work, False))
            spark = setup.result[0]
            setups.append(setup)
        cpu0 = procfs.cpu_times()
        writes, reads, rows, failures, attempted = op_loop(wl, spark, seconds, wl.min_samples)
        cpu1 = procfs.cpu_times()
    shut_down(spark)
    attempted += 1  # the output check
    if not writes:
        raise RuntimeError("no sampled operation completed:\n" + "".join(failures))
    t0 = time.perf_counter()
    failures += check(wl)
    check_s = time.perf_counter() - t0
    size, stored_rows = wl.stored()
    metrics = {
        "setup_s": statistics.median(s.net_s for s in setups),
        "rows_per_s": rows / statistics.median(s.net_s for s in writes),
        "read_p50_s": statistics.median(s.net_s for s in reads),
        "table_bytes_per_row": size / stored_rows,
        "peak_rss_mb": rss.peak / 2**20,
    }
    diag = {
        "setups_wall_s": [s.wall_s for s in setups],
        "setups_steal": [s.steal for s in setups],
        "writes_wall_s": [s.wall_s for s in writes],
        "writes_steal": [s.steal for s in writes],
        "reads_wall_s": [s.wall_s for s in reads],
        "reads_steal": [s.steal for s in reads],
        "samples": len(writes), "steal_share": procfs.steal_share(cpu0, cpu1),
        "check_s": check_s,
    }
    return metrics, diag, attempted, failures


def per_layer(wl, work: Path, seed: int) -> tuple[dict, dict, int, list[str]]:
    from tracing import Tracer, counting_local_checkpoints, read_event_log, sum_groups

    spark, get_spark_s = set_up(wl, work, True)
    cpu0 = procfs.cpu_times()
    # after the warm-up, one untraced reference for the traced operation
    writes, reads, _, failures, attempted = op_loop(wl, spark, 0.0, samples=1)
    if failures:
        raise RuntimeError("untraced operations failed:\n" + "".join(failures))
    tracer = Tracer(f"{wl.name}-{seed}-{os.getpid()}", spark)
    checkpoints: dict[str, int] = {}
    with counting_local_checkpoints(tracer, checkpoints):
        wl.trace_op(spark, tracer, wl.warmup_ops + len(writes))
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        metrics, from_log = wl.layer_metrics(spark, tracer)
    cpu1 = procfs.cpu_times()
    shut_down(spark)
    failures = check(wl)

    untraced_s = writes[-1].wall_s + reads[-1].wall_s
    groups = read_event_log(work / "eventlog")
    ops = [s for name in OP_SPANS for s in tracer.named(name)]
    traced_s = sum(s.wall_s for s in ops)

    def counters(spans) -> dict:
        return sum_groups(groups, {s.span_id for top in spans for s in tracer.subtree(top)})

    spark_c = counters(ops)
    metrics.update({f"spark.{k}": v for k, v in spark_c.items()})
    metrics.update({
        "spark.core_busy_frac": spark_c["executor_run_s"] / (traced_s * CPUS),
        "spark.local_checkpoints": sum(checkpoints.get(n, 0) for n in OP_SPANS),
        "spark.persisted_rdds_after": persisted,
        "session.get_spark.wall_s": get_spark_s,
        "trace.overhead_s": traced_s - untraced_s,
    })
    for name, (spans, counter, divisor) in from_log.items():
        metrics[name] = counters(spans)[counter] / divisor

    out = ROOT / ".perfbench_traces"
    out.mkdir(exist_ok=True)
    tracer.dump(out / f"{wl.name}-seed{seed}.json")
    diag = {
        "untraced_s": untraced_s, "traced_s": traced_s,
        "steal_share": procfs.steal_share(cpu0, cpu1), "spans": len(tracer.spans),
    }
    # plus the traced write and read and the output check
    return metrics, diag, attempted + 3, failures


def check(wl) -> list[str]:
    """The workload's correctness check as at most one failure."""
    errors = wl.check()
    return ["output check: " + "; ".join(errors)] if errors else []


def main() -> int:
    args = parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if procfs.nproc() < CPUS:
        print(f"refusing local[{CPUS}] on a host with {procfs.nproc()} CPUs", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    try:
        import gfwspark  # noqa: F401 - fail before any work if the engine is absent
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](work)
        wl.prepare(ROOT / ".perfbench_cache", args.seed)
        if args.trace:
            metrics, diag, attempted, failures = per_layer(wl, work, args.seed)
            wanted = spec["per_layer"]
        else:
            metrics, diag, attempted, failures = end_to_end(wl, work, args.seconds)
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(failures)
    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    for name, m in result["metrics"].items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"diagnostics": {
        "workload": wl.name, "input": wl.key, "nproc": procfs.nproc(),
        "local_cpus": CPUS, "driver_heap": DRIVER_HEAP,
        "error_rate": failed / attempted, "errors": failures, **diag,
    }}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
