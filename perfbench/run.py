"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The run generates its
inputs from the seed (cached per seed and generator version under
``.perfbench/inputs``), starts a Spark session sized to the machine's
cores, bootstraps a fresh snapshot in a private directory, drives one
workload from this process, checks every output on DuckDB outside the
timed region, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the full per-layer detail (per request kind, per
job, per engine function) is written to
``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "deployment.build_snapshot_s": "s",
    "deployment.register_bucketed_s": "s",
    "deployment.bytes_written": "bytes",
    "op.build_ms": "ms",
    "op.exec_ms": "ms",
    "op.latency_p50_ms": "ms",
    "op.latency_p75_ms": "ms",
    "op.throughput_per_s": "1/s",
    "op.py4j_calls": "count",
    "op.spark_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "driver.gap_s": "s",
    "py4j.calls": "count",
    "py4j.s": "s",
    "client.cpu_ms_per_op": "ms",
    "scratch.calls": "count",
    "upsert.partitions_rewritten": "count",
    "upsert.rows_rewritten_per_event": "count",
    "upsert.bytes_written_per_event": "bytes",
    "trace.self_s": "s",
    "trace.cpu_ms_per_op": "ms",
    "process.peak_rss_mb": "MB",
}

# engine functions timed and counted in traced runs: (module, prefix, names)
WRAPPED = (
    ("hadoop_ozone_spark.scratch", "scratch", ("keep", "keep_ckpt", "keep_result")),
    ("hadoop_ozone_spark.sources.deployment", "deployment", ("build_snapshot", "register_bucketed")),
    ("hadoop_ozone_spark.sources.snapshot", "snapshot", ("write_snapshot",)),
    ("hadoop_ozone_spark.sources.upsert", "upsert", ("apply_events_to_snapshot",)),
    ("hadoop_ozone_spark.streaming.maintenance", "maintenance", ("run_foreachbatch_merge", "read_mart")),
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="row-count multiple of the sf0.001 fixture (default 1)")
    return p.parse_args(argv)


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from the kernel's high-water mark."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _isolate(work: str) -> None:
    """Point every scratch location of this process and of the JVM it
    starts at the run's private directory."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        # compiler threads that live as long as the JVM, so that
        # workloads.work_cpu_s can leave their time out
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"),
        "pyspark-shell",
    ])


def _stop(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    a = _args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "hadoop_ozone_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    import gen

    state = os.path.join(root, ".perfbench")
    inputs = gen.write_inputs(a.seed, _input_dir(state, a.seed, a.scale), a.scale)
    work = tempfile.mkdtemp(prefix=f"run-{a.workload}-{a.seed}-", dir=state)
    try:
        return _measure(a, root, state, inputs, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _input_dir(state: str, seed: int, scale: float) -> str:
    """Cache directory of one seed's inputs. It names a digest of the
    generator's source, so a changed generator never reuses old files."""
    import gen

    with open(gen.__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    return os.path.join(state, "inputs", f"seed{seed}-x{scale:g}-{digest}")


def _measure(a, root, state, inputs, work, workloads) -> int:
    import importlib

    _isolate(work)
    import oracle
    from tracing import Tracer

    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.session import get_spark
    from hadoop_ozone_spark.sources import deployment

    # the client's namespace comes from the cached input files, the same
    # ones the engine reads
    con = oracle.connect(inputs)
    namespace = oracle.namespace(con)
    con.close()
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}", cpus=cpus)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(a.trace))
        for mod, prefix, names in WRAPPED:
            tracer.wrap_module(importlib.import_module(mod), prefix, names)
        snapshot = os.path.join(work, "snapshot")
        t0 = time.perf_counter()
        deployment.ensure_snapshot(spark, inputs, snapshot)
        model.clear_derived_cache()
        bootstrap_s = time.perf_counter() - t0
        bootstrap_bytes = _dir_bytes(snapshot) if a.trace else 0

        run = workloads.Run(spark, tracer, a.seed, a.seconds, inputs, work, snapshot, namespace)
        res = workloads.WORKLOADS[a.workload](run)
        cpu_ms_per_op = res.cpu_s / res.work_units * 1e3
        print(f"perfbench: {a.workload} session {session_s:.2f}s bootstrap {bootstrap_s:.2f}s "
              f"ops {res.work_units} in {res.wall_s:.2f}s, cpu {res.cpu_s:.2f}s", file=sys.stderr)
        if a.trace:
            metrics = _per_layer(tracer, res, session_s, bootstrap_bytes, cpu_ms_per_op)
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            metrics["process.peak_rss_mb"] = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
            detail = {**metrics, **res.detail, "trace.bootstrap_s": bootstrap_s}
            for label in sorted(tracer.calls):
                detail[f"{label}.calls"] = tracer.calls[label]
                detail[f"{label}.s"] = tracer.seconds[label]
            artifact = os.path.join(state, f"trace-{a.workload}-seed{a.seed}.json")
            with open(artifact, "w") as fh:
                json.dump(detail, fh, indent=1, sort_keys=True)
            print(f"perfbench: per-layer detail in {os.path.relpath(artifact, root)}")
            tracer.restore()
        else:
            metrics = {"setup_s": session_s + bootstrap_s, "cpu_ms_per_op": cpu_ms_per_op}
    finally:
        _stop(spark)
    units = END_TO_END if not a.trace else PER_LAYER
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out))
    return 0


def _per_layer(tracer, res, session_s, bootstrap_bytes, cpu_ms_per_op) -> dict:
    import workloads

    t = tracer.totals
    n = max(1, len(res.latencies_s))
    det = res.detail
    p50, p75 = workloads.op_latencies_ms(res.latencies_s)
    return {
        "session.start_s": session_s,
        "deployment.build_snapshot_s": tracer.seconds["deployment.build_snapshot"],
        "deployment.register_bucketed_s": tracer.seconds["deployment.register_bucketed"],
        "deployment.bytes_written": bootstrap_bytes,
        "op.build_ms": statistics.median(res.build_s) * 1e3 if res.build_s else 0.0,
        "op.exec_ms": statistics.median(res.exec_s) * 1e3 if res.exec_s else 0.0,
        "op.latency_p50_ms": p50,
        "op.latency_p75_ms": p75,
        "op.throughput_per_s": res.work_units / res.wall_s,
        "op.py4j_calls": t["op.py4j_calls"] / n,
        "op.spark_jobs": t["op.jobs"] / n,
        "spark.jobs": t["op.jobs"],
        "spark.stages": t["op.stages"],
        "spark.tasks": t["op.tasks"],
        "spark.job_wall_s": t["op.job_wall_s"],
        "spark.executor_run_s": t["op.executor_run_s"],
        "spark.shuffle_read_bytes": t["op.shuffle_read_bytes"],
        "spark.shuffle_write_bytes": t["op.shuffle_write_bytes"],
        "spark.spill_bytes": t["op.spill_bytes"],
        "driver.gap_s": t["op.driver_gap_s"],
        "py4j.calls": tracer.py4j_calls,
        "py4j.s": tracer.py4j_s,
        "client.cpu_ms_per_op": res.client_cpu_s / res.work_units * 1e3,
        "scratch.calls": sum(tracer.calls[f"scratch.{f}"] for f in ("keep", "keep_ckpt", "keep_result")),
        "upsert.partitions_rewritten": det.get("upsert.partitions_rewritten", 0.0),
        "upsert.rows_rewritten_per_event": det.get("upsert.rows_rewritten_per_event", 0.0),
        "upsert.bytes_written_per_event": det.get("upsert.bytes_written_per_event", 0.0),
        "trace.self_s": tracer.self_s,
        "trace.cpu_ms_per_op": cpu_ms_per_op,
    }


if __name__ == "__main__":
    raise SystemExit(main())
