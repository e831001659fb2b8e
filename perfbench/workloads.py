"""The workloads. Each takes a :class:`Run` whose session and fresh
snapshot are already set up, drives the engine from one client, and
returns a :class:`Result`: per-operation latencies, attempted and failed
counts, and per-layer detail for the traced run.

- ``api_serving``: closed loop, one client, a seeded Zipf-skewed mix of
  read requests over ``endpoints.OzoneAnalytics`` after two untimed warm-up
  blocks; one operation is one request with its page collected to the
  client. No writes.
- ``pipeline_batch``: one cold pass over a fixed list of registered batch
  jobs, the way a scheduled batch runs them, followed by the batch
  window's CDC tail: seeded CDC batches merged into the snapshot by
  ``sources.upsert``, the mart maintained by ``streaming.maintenance``, and
  a read-your-writes request after each batch. One operation is one job
  (built and collected) or one CDC batch.

Each workload also returns the CPU time that the measured phase cost the
whole process tree (this client, the JVM and any Python workers), less the
JVM's JIT compilation: see :func:`work_cpu_s`.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from stats import percentile

# One job for each of the scm planners, datapipe dedup and sketches, and
# the TPC-H plans. The list is kept short because every run also pays a
# cold snapshot bootstrap, and all runs of the benchmark share one time
# budget.
JOBS = [
    "rm1_replication_actions",
    "dp_minhash_pairs",
    "dp_corpus_drift",
    "q21_waiting_suppliers",
]

WARMUP_BLOCKS = 2
# The measured loop runs whole blocks, at least this many requests, so
# that every run measures about the same work and JIT warm-up share.
MIN_REQUESTS = 60
CDC_BATCHES = 1
BATCH_EVENTS = 200


@dataclasses.dataclass
class Run:
    spark: object
    tracer: object
    seed: int
    seconds: float
    input_dir: str
    work_dir: str
    snapshot_dir: str
    namespace: gen.Namespace


@dataclasses.dataclass
class Result:
    latencies_s: list[float]
    work_units: int  # requests, or jobs and CDC batches, completed
    attempted: int
    failed: int
    wall_s: float
    cpu_s: float = 0.0  # CPU time of the process tree over the measured phase
    client_cpu_s: float = 0.0  # the part of it spent in this process
    build_s: list[float] = dataclasses.field(default_factory=list)
    exec_s: list[float] = dataclasses.field(default_factory=list)
    detail: dict = dataclasses.field(default_factory=dict)


def work_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and all
    its descendants (the JVM, Python workers), live ones and reaped ones,
    less the JVM's JIT compiler threads. The kernel leaves out time the
    host stole from the virtual CPUs."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for p, pp in parent.items():
        children.setdefault(pp, []).append(p)
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0) - _compiler_ticks(p)
        todo.extend(children.get(p, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _compiler_ticks(pid: int) -> int:
    """CPU ticks of a process's HotSpot JIT compiler threads. They live as
    long as the JVM, which runs with -XX:-UseDynamicNumberOfCompilerThreads."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    n = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in name:  # "C1 CompilerThre", "C2 CompilerThre"
            fields = rest.split()
            n += int(fields[11]) + int(fields[12])
    return n


def _span_delta(tracer, label: str, before: dict) -> dict:
    prefix = label + "."
    return {
        k[len(prefix):]: v - before.get(k, 0.0)
        for k, v in tracer.totals.items()
        if k.startswith(prefix)
    }


# -- api_serving ----------------------------------------------------------

def _request(api, kind: str, args: dict):
    """One request, its page collected to the client. Returns the build
    and execution seconds and the rows (None when the request raised)."""
    t0 = time.perf_counter()
    try:
        df = getattr(api, kind)(**args)
        t1 = time.perf_counter()
        rows = [r.asDict() for r in df.collect()]
    except Exception as e:  # a failed request counts, the loop goes on
        t1, rows = time.perf_counter(), None
        print(f"request {kind} {args} failed: {e!r}", flush=True)
    return t1 - t0, time.perf_counter() - t1, rows


def api_serving(run: Run) -> Result:
    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.endpoints import OzoneAnalytics

    spark, tracer = run.spark, run.tracer
    schedule = gen.request_schedule(run.seed, run.namespace, 4000)
    api = OzoneAnalytics(
        spark,
        model.om_keys(spark, run.input_dir),
        containers=model.containers(spark, run.input_dir),
    )
    # A server pays the first calls of each plan shape once, not per
    # request: untimed blocks warm them before the measured loop.
    warmup = WARMUP_BLOCKS * gen.BLOCK
    responses = []
    for kind, args in schedule[:warmup]:
        responses.append((kind, args, _request(api, kind, args)[2]))

    latencies, builds, execs = [], [], []
    per_kind: dict[str, dict[str, list]] = {}
    cpu0, client0, t_start = work_cpu_s(), time.process_time(), time.perf_counter()
    for kind, args in schedule[warmup:]:
        if (len(latencies) >= MIN_REQUESTS and len(latencies) % gen.BLOCK == 0
                and time.perf_counter() - t_start >= run.seconds):
            break
        calls0 = tracer.py4j_calls
        with tracer.span("op"):
            build, execute, rows = _request(api, kind, args)
        latencies.append(build + execute)
        builds.append(build)
        execs.append(execute)
        responses.append((kind, args, rows))
        k = per_kind.setdefault(kind, {"build": [], "exec": [], "py4j": []})
        k["build"].append(build)
        k["exec"].append(execute)
        k["py4j"].append(tracer.py4j_calls - calls0)
    wall, cpu, client = (time.perf_counter() - t_start, work_cpu_s() - cpu0,
                         time.process_time() - client0)

    verdicts = oracle.check_requests(oracle.connect(run.input_dir), responses)
    detail = {}
    for kind, k in per_kind.items():
        detail[f"endpoints.{kind}.requests"] = len(k["build"])
        detail[f"endpoints.{kind}.build_ms"] = statistics.median(k["build"]) * 1e3
        detail[f"endpoints.{kind}.exec_ms"] = statistics.median(k["exec"]) * 1e3
        detail[f"endpoints.{kind}.py4j_calls"] = statistics.mean(k["py4j"])
    return Result(
        latencies_s=latencies, work_units=len(latencies), attempted=len(verdicts),
        failed=verdicts.count(False), wall_s=wall, cpu_s=cpu, client_cpu_s=client,
        build_s=builds, exec_s=execs, detail=detail,
    )


# -- pipeline_batch -------------------------------------------------------

def pipeline_batch(run: Run) -> Result:
    import __spark_entry__ as entrymod

    spark, tracer = run.spark, run.tracer
    registry = entrymod.queries()
    latencies, builds, execs, results, detail = [], [], [], {}, {}
    cpu0, client0, t_start = work_cpu_s(), time.process_time(), time.perf_counter()
    for name in JOBS:
        before = dict(tracer.totals)
        with tracer.span("op"):
            t0 = time.perf_counter()
            try:
                df = registry[name](spark, run.input_dir)
                t1 = time.perf_counter()
                results[name] = df.toPandas()
            except Exception as e:  # a failed job counts, the pass goes on
                t1, results[name] = time.perf_counter(), None
                print(f"job {name} failed: {e!r}", flush=True)
            t2 = time.perf_counter()
        latencies.append(t2 - t0)
        builds.append(t1 - t0)
        execs.append(t2 - t1)
        span = _span_delta(tracer, "op", before)
        detail[f"plans.{name}.build_s"] = t1 - t0
        detail[f"plans.{name}.exec_s"] = t2 - t1
        detail[f"plans.{name}.py4j_calls"] = span.get("py4j_calls", 0)
        detail[f"plans.{name}.spark_jobs"] = span.get("jobs", 0)
    tail, check_tail = _cdc_tail(run)
    wall, cpu, client = (time.perf_counter() - t_start, work_cpu_s() - cpu0,
                         time.process_time() - client0)

    verdicts = oracle.check_jobs(oracle.connect(run.input_dir), results)
    for name, ok in verdicts.items():
        if not ok:
            print(f"job {name}: output differs from its DuckDB twin", flush=True)
    tail_ok = check_tail()
    return Result(
        latencies_s=latencies + tail.latencies_s, work_units=len(JOBS) + len(tail.latencies_s),
        attempted=len(JOBS) + tail.attempted + 1,
        failed=list(verdicts.values()).count(False) + tail.failed + (0 if tail_ok else 1),
        wall_s=wall, cpu_s=cpu, client_cpu_s=client,
        build_s=builds + tail.build_s, exec_s=execs + tail.exec_s,
        detail={**detail, **tail.detail},
    )


# -- the CDC tail of pipeline_batch ----------------------------------------

def _stage_batches(run: Run, batches: list[list[dict]], plane: str) -> list[str]:
    """Write each batch as one parquet file of the CDC feed, with the
    snapshot plane's own column types, before any timing starts."""
    sample = next(
        os.path.join(d, f) for d, _, fs in os.walk(plane) for f in fs if f.endswith(".parquet")
    )
    plane_schema = pq.read_schema(sample)
    fields = [plane_schema.field(n) for n in plane_schema.names]
    fields += [
        pa.field("volume", pa.string()), pa.field("bucket", pa.string()),
        pa.field("seqno", pa.int64()), pa.field("op", pa.string()),
        pa.field("old_size", pa.int64()),
        pa.field("event_time", pa.timestamp("us", tz="UTC")),
    ]
    schema = pa.schema(fields)
    staged = os.path.join(run.work_dir, "cdc_staged")
    os.makedirs(staged, exist_ok=True)
    paths = []
    for i, batch in enumerate(batches):
        path = os.path.join(staged, f"batch-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(batch, schema=schema), path)
        paths.append(path)
    return paths


def _plane_files(plane: str) -> dict[str, tuple[int, str]]:
    out = {}
    for d, _, fs in os.walk(plane):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = (os.path.getsize(p), os.path.relpath(d, plane))
    return out


def _cdc_tail(run: Run):
    """Merge :data:`CDC_BATCHES` seeded batches into the snapshot's key
    plane and the mart, with a read-your-writes lookup after each. Returns
    the batches' :class:`Result` and a function, to call after the timed
    region, that checks the final plane and mart against a DuckDB replay."""
    from hadoop_ozone_spark.endpoints import OzoneAnalytics
    from hadoop_ozone_spark.sources import upsert
    from hadoop_ozone_spark.streaming import maintenance

    spark, tracer = run.spark, run.tracer
    plane = os.path.join(run.snapshot_dir, "om_keys")
    batches = gen.cdc_batches(run.seed, run.namespace, CDC_BATCHES, BATCH_EVENTS)
    staged = _stage_batches(run, batches, plane)
    feed = os.path.join(run.work_dir, "cdc_feed")
    mart = os.path.join(run.work_dir, "mart")
    ckpt = os.path.join(run.work_dir, "mart_ckpt")
    os.makedirs(feed)

    latencies, apply_s, merge_s, read_s, mart_read_s = [], [], [], [], []
    builds, execs, checks, applied = [], [], [], []
    rewritten_parts = rewritten_rows = rewritten_bytes = spark_jobs = 0
    t_start = time.perf_counter()
    for i, path in enumerate(staged):
        batch = batches[i]
        last_write = batch[-1]
        files_before = _plane_files(plane) if tracer.enabled else {}
        totals_before = dict(tracer.totals)
        ok = True
        with tracer.span("op") as groups:
            t0 = time.perf_counter()
            try:
                shutil.move(path, os.path.join(feed, os.path.basename(path)))
                events = spark.read.parquet(os.path.join(feed, os.path.basename(path)))
                t1 = time.perf_counter()
                upsert.apply_events_to_snapshot(spark, plane, events)
                t2 = time.perf_counter()
                stream = maintenance.read_event_stream(spark, feed, max_files_per_trigger=1)
                query = maintenance.run_foreachbatch_merge(stream, mart, ckpt)
                groups.append(str(query.runId))  # the merge's jobs run under it
                query.awaitTermination(120)
                t3 = time.perf_counter()
                keys = spark.read.parquet(plane)
                got = OzoneAnalytics(spark, keys).lookup_key(last_write["row_key"]).collect()
                t4 = time.perf_counter()
                totals = maintenance.read_mart(spark, mart).first()
                t5 = time.perf_counter()
            except Exception as e:  # a failed batch counts, the loop goes on
                print(f"cdc batch {i} failed: {e!r}", flush=True)
                ok = False
            t_end = time.perf_counter()
        latencies.append(t_end - t0)
        applied.append(batch)
        spark_jobs += _span_delta(tracer, "op", totals_before).get("jobs", 0)
        if not ok:
            checks.append(False)
            continue
        builds.append(t1 - t0)
        execs.append(t_end - t1)
        apply_s.append(t2 - t1)
        merge_s.append(t3 - t2)
        read_s.append(t4 - t3)
        mart_read_s.append(t5 - t4)
        want = [] if last_write["op"] == "DELETE" else [last_write["data_size"]]
        checks.append(
            [r["data_size"] for r in got] == want
            and totals["last_seqno"] == last_write["seqno"]
        )
        if tracer.enabled:
            files_after = _plane_files(plane)
            new = {p: v for p, v in files_after.items() if p not in files_before}
            rewritten_parts += len({part for _, part in new.values()})
            rewritten_bytes += sum(size for size, _ in new.values())
            rewritten_rows += sum(pq.read_metadata(p).num_rows for p in new)
    wall = time.perf_counter() - t_start

    def check_final() -> bool:
        events = pd.DataFrame([e for b in applied for e in b])
        state, want_mart = oracle.replay_cdc(oracle.connect(run.input_dir), events)
        got_state = spark.read.parquet(plane).select("row_key", "data_size", "volume", "bucket").toPandas()
        got_mart = maintenance.read_mart(spark, mart).first()
        ok = oracle.same(got_state, state) and all(got_mart[k] == v for k, v in want_mart.items())
        if not ok:
            print("cdc: final snapshot or mart differs from the DuckDB replay", flush=True)
        return ok

    n_events = sum(len(b) for b in applied)
    detail = {
        "upsert.apply_ms": statistics.median(apply_s) * 1e3 if apply_s else 0.0,
        "maintenance.mart_merge_ms": statistics.median(merge_s) * 1e3 if merge_s else 0.0,
        "cdc.fresh_read_ms": statistics.median(read_s) * 1e3 if read_s else 0.0,
        "maintenance.read_mart_ms": statistics.median(mart_read_s) * 1e3 if mart_read_s else 0.0,
        "cdc.batches": len(applied),
        "cdc.events": n_events,
    }
    if tracer.enabled:
        detail.update({
            "upsert.partitions_rewritten": rewritten_parts / max(1, len(applied)),
            "upsert.rows_rewritten_per_event": rewritten_rows / max(1, n_events),
            "upsert.bytes_written_per_event": rewritten_bytes / max(1, n_events),
            "cdc.spark_jobs": spark_jobs / max(1, len(applied)),  # the merge's included
        })
    result = Result(
        latencies_s=latencies, work_units=len(applied), attempted=len(checks),
        failed=checks.count(False), wall_s=wall, build_s=builds, exec_s=execs, detail=detail,
    )
    return result, check_final


WORKLOADS = {
    "api_serving": api_serving,
    "pipeline_batch": pipeline_batch,
}


def op_latencies_ms(latencies_s: list[float]) -> tuple[float, float]:
    """Median and 75th-percentile operation latency, in ms."""
    return percentile(latencies_s, 50) * 1e3, percentile(latencies_s, 75) * 1e3
