"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke runs start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import oracle
import workloads
from hadoop_ozone_spark import model
from stats import percentile, samples_beyond

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _same_tables(a, b) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


@pytest.fixture(scope="module")
def namespaces(tmp_path_factory):
    """The client namespace of a seed, read back from its written inputs."""
    cache = {}

    def get(seed: int) -> gen.Namespace:
        if seed not in cache:
            out = gen.write_inputs(seed, str(tmp_path_factory.mktemp(f"in{seed}")))
            cache[seed] = oracle.namespace(oracle.connect(out))
        return cache[seed]

    return get


def test_same_seed_gives_identical_inputs(tmp_path, namespaces):
    assert _same_tables(gen.build_tables(11), gen.build_tables(11))
    a = namespaces(11)
    b = oracle.namespace(oracle.connect(gen.write_inputs(11, str(tmp_path / "again"))))
    assert a == b
    assert gen.request_schedule(11, a, 300) == gen.request_schedule(11, b, 300)
    assert gen.cdc_batches(11, a, 3, 50) == gen.cdc_batches(11, b, 3, 50)


def test_different_seed_gives_different_inputs(namespaces):
    a, b = gen.build_tables(11), gen.build_tables(12)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])
    na, nb = namespaces(11), namespaces(12)
    assert gen.request_schedule(11, na, 300) != gen.request_schedule(12, nb, 300)
    assert gen.cdc_batches(11, na, 3, 50) != gen.cdc_batches(12, nb, 3, 50)


def test_written_inputs_round_trip(tmp_path):
    import pyarrow.parquet as pq

    out = gen.write_inputs(5, str(tmp_path / "in"), scale=0.1)
    tables = gen.build_tables(5, scale=0.1)
    assert sorted(tables) == sorted(model.TABLES)
    for name in model.TABLES:
        assert pq.read_table(os.path.join(out, f"{name}.parquet")).equals(tables[name])


def test_inputs_keep_keys_unique_and_referential(namespaces):
    t = gen.build_tables(3)
    li = t["lineitem"].to_pydict()
    assert len(set(zip(li["l_orderkey"], li["l_linenumber"]))) == len(li["l_orderkey"])
    assert set(li["l_partkey"]) <= set(t["part"].column("p_partkey").to_pylist())
    assert set(li["l_suppkey"]) <= set(t["supplier"].column("s_suppkey").to_pylist())
    assert set(li["l_orderkey"]) <= set(t["orders"].column("o_orderkey").to_pylist())
    ns = namespaces(3)
    assert len(ns.rows) == t["lineitem"].num_rows
    assert len({r["row_key"] for r in ns.rows}) == len(ns.rows)
    assert (ns.n_containers, ns.n_datanodes) == (t["part"].num_rows, t["supplier"].num_rows)


def test_request_mix_follows_the_fixed_shares(namespaces):
    kinds = [k for k, _ in gen.request_schedule(4, namespaces(4), 3 * gen.BLOCK)]
    for kind, count in gen.REQUEST_MIX.items():
        assert kinds.count(kind) == 3 * count
    assert workloads.MIN_REQUESTS % gen.BLOCK == 0


def test_cdc_batches_name_live_keys(namespaces):
    ns = namespaces(6)
    live = {r["row_key"]: r["data_size"] for r in ns.rows}
    for batch in gen.cdc_batches(6, ns, 4, 100):
        for e in batch:
            if e["op"] == "PUT":
                assert e["row_key"] not in live
                live[e["row_key"]] = e["data_size"]
            elif e["op"] == "UPDATE":
                assert e["old_size"] == live[e["row_key"]]
                live[e["row_key"]] = e["data_size"]
            else:
                assert e["data_size"] == live.pop(e["row_key"])


def test_tail_percentile_has_ten_samples_beyond():
    # the reported tail (p75) of an api_serving run has >= 10 samples beyond it
    assert samples_beyond(workloads.MIN_REQUESTS, 75) >= 10
    assert samples_beyond(200, 95) == 10
    assert samples_beyond(199, 95) == 9
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert samples_beyond(100, 90) == 10


def test_work_cpu_counts_finished_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    before = workloads.work_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert workloads.work_cpu_s() - before >= 0.45


def _run(cwd: str, workload: str, trace: int = 0):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.2"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_has_no_failed_operation(workload):
    proc = _run(ROOT, workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {"setup_s", "cpu_ms_per_op"}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = _run(str(tmp_path), "api_serving")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
