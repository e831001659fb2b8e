"""Seeded input generator for the benchmark.

Writes the ten source tables the engine reads (``hadoop_ozone_spark.model
.TABLES``) with the same names, column types and value domains as the
repository's TPC-H-style test fixtures, generated from a seed instead of
copied.
The laws the query surface relies on are kept:

- dense integer keys starting at 0 (``c_custkey``, ``o_orderkey``, ...), so
  every modulus slice law (``% 2``, ``% 7``, ``% 11``, ``% 20``, ``% 50``)
  keeps its fraction;
- referential integrity: every foreign key points at an existing row
  (``o_custkey``, ``l_orderkey``/``l_partkey``/``l_suppkey``,
  ``n_regionkey``, ``c_nationkey``/``s_nationkey``);
- ``(l_orderkey, l_linenumber)`` is unique, so the derived namespace row
  keys are unique;
- ``events.event_id`` and ``events.ts`` both increase, so the CDC feed
  derived from it has ordered sequence numbers;
- the document and embedding corpora carry planted exact and near
  duplicates, so the dedup and clustering jobs have work to do.

``scale`` multiplies the row counts of the sf0.001 fixture; the corpora
and the dimension tables stay fixed, as in the fixtures.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark value line data agg row column filter "
    "query group customer vector dup"
).split()

N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: dt.date, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def build_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, a pure function of (seed, scale)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150 * scale))
    n_supp = max(5, int(10 * scale))
    n_part = max(20, int(200 * scale))
    n_ord = max(50, int(1500 * scale))
    n_events = max(100, int(1000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })

    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(dt.date(1995, 1, 1), order_days),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(dt.date(1995, 1, 1), order_days[l_order] + rng.integers(1, 122, n_li)),
    })

    gaps = rng.uniform(1.0, 2.0 * 30 * 86400 / n_events, n_events)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, N_USERS, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i >= 20 and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and r < 0.15:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (N_VECS, DIM))
    twins = rng.random(N_VECS) < 0.05
    twins[:20] = False
    for i in np.flatnonzero(twins):  # near-duplicate vectors
        src = int(rng.integers(0, i))
        vecs[i] = vecs[src] + rng.normal(0.0, 0.01, DIM)
        labels[i] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


@dataclasses.dataclass(frozen=True)
class Namespace:
    """The client's view of the generated inputs: the keyTable rows the
    engine derives from them (``model.OM_KEYS_CTE``), ordered by
    ``row_key``, and how many containers and datanodes a key may name."""

    rows: list[dict]
    n_containers: int
    n_datanodes: int


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# Request kinds by rank, with the count of each in a block of 20 requests:
# a Zipf law (s = 1) over the ranks, apportioned by largest remainder. The
# ranking and the exponent are a modelling choice, not measured Ozone
# traffic. The counts are fixed; the seed picks the order within each block
# and every request parameter, so any whole number of blocks has the same
# mix whatever the seed.
REQUEST_MIX = {
    "list_keys": 8,
    "lookup_key": 4,
    "list_status": 3,
    "list_objects_v2": 2,
    "namespace_summary": 1,
    "containers_keys": 1,
    "utilization_file_count": 1,
}
BLOCK = sum(REQUEST_MIX.values())

# Zipf exponent of the (volume, bucket) draw for requests and CDC events:
# one hot bucket takes about half of them. A modelling choice.
BUCKET_SKEW = 1.2


def request_schedule(seed: int, ns: Namespace, n: int) -> list[tuple[str, dict]]:
    """``n`` API requests as (kind, keyword arguments) for
    ``endpoints.OzoneAnalytics``. Buckets are drawn Zipf-skewed (one hot
    bucket), lookups hit existing keys nine times in ten, and the listing
    depth of ``list_objects_v2`` and ``list_status`` rotates, so the work
    per block varies little from seed to seed."""
    rng = np.random.default_rng([seed, 1])
    rows = ns.rows
    parts = sorted({(r["volume"], r["bucket"]) for r in rows})
    order = rng.permutation(len(parts))
    part_p = _zipf_weights(len(parts), BUCKET_SKEW)
    n_part = ns.n_containers
    block = [k for k, c in REQUEST_MIX.items() for _ in range(c)]
    seen = dict.fromkeys(REQUEST_MIX, 0)  # requests of each kind so far
    out: list[tuple[str, dict]] = []
    while len(out) < n:
        for kind in rng.permutation(block):
            vol, bkt = parts[order[rng.choice(len(parts), p=part_p)]]
            d, s = int(rng.integers(0, 7)), int(rng.integers(0, 5))
            i = seen[kind]
            seen[kind] += 1
            if kind == "lookup_key":
                if rng.random() < 0.9:
                    args = {"row_key": rows[int(rng.integers(0, len(rows)))]["row_key"]}
                else:
                    args = {"row_key": f"/{vol}/{bkt}/dir{d}/sub{s}/missing_{int(rng.integers(1 << 30))}"}
            elif kind == "list_keys":
                args = {"volume": vol, "bucket": bkt, "start_key": f"/{vol}/{bkt}/dir{d}/", "max_keys": 100}
            elif kind == "list_objects_v2":
                prefix = ["", f"dir{d}/", f"dir{d}/sub{s}/"][i % 3]
                args = {"volume": vol, "bucket": bkt, "prefix": prefix, "max_keys": 100}
            elif kind == "list_status":
                path = [f"dir{d}", f"dir{d}/sub{s}"][i % 2]
                args = {"volume": vol, "bucket": bkt, "dir_path": path}
            elif kind == "containers_keys":
                args = {"container_id": int(rng.integers(0, n_part)), "max_keys": 100}
            elif kind == "namespace_summary":
                args = {"volume": vol, "bucket": bkt}
            else:
                args = {"volume": vol, "bucket": bkt}
            out.append((str(kind), args))
    return out[:n]


# Shares of PUT and UPDATE among CDC events; the rest are DELETEs. A
# modelling choice, not measured Ozone traffic.
PUT_SHARE, UPDATE_SHARE = 0.3, 0.5


def cdc_batches(seed: int, ns: Namespace, n_batches: int, batch_size: int) -> list[list[dict]]:
    """``n_batches`` CDC batches of ``batch_size`` events each, replayed
    against the evolving namespace so every event is valid when applied:
    UPDATE and DELETE name a live key and carry its current size (the
    retraction payload), PUT creates a new key. Partitions are drawn
    Zipf-skewed, so one hot bucket takes most of the writes."""
    rng = np.random.default_rng([seed, 2])
    live: dict[tuple[str, str], list[dict]] = {}
    for r in ns.rows:
        live.setdefault((r["volume"], r["bucket"]), []).append(r)
    parts = sorted(live)
    order = rng.permutation(len(parts))
    part_p = _zipf_weights(len(parts), BUCKET_SKEW)
    seqno = 0
    t0 = dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc)
    batches = []
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_size):
            seqno += 1
            part = parts[order[rng.choice(len(parts), p=part_p)]]
            keys = live[part]
            r = rng.random()
            if r < PUT_SHARE or len(keys) < 2:
                op = "PUT"
            else:
                op = "UPDATE" if r < PUT_SHARE + UPDATE_SHARE else "DELETE"
            if op == "PUT":
                d, s = int(rng.integers(0, 7)), int(rng.integers(0, 5))
                key = f"dir{d}/sub{s}/n_{seqno}"
                row = {
                    "volume": part[0], "bucket": part[1], "key": key,
                    "row_key": f"/{part[0]}/{part[1]}/{key}",
                    "data_size": int(rng.integers(1, 1 << 24)),
                    "replication_factor": 3,
                    "container_id": int(rng.integers(0, ns.n_containers)),
                    "datanode_id": int(rng.integers(0, ns.n_datanodes)),
                    "creation_time": dt.datetime(2024, 2, 1) + dt.timedelta(seconds=seqno),
                }
                keys.append(row)
                old = None
            else:
                i = int(rng.integers(0, len(keys)))
                cur = keys[i]
                old = cur["data_size"]
                if op == "UPDATE":
                    row = dict(cur, data_size=int(rng.integers(1, 1 << 24)))
                    keys[i] = row
                else:
                    row = dict(cur)
                    keys[i] = keys[-1]
                    keys.pop()
            batch.append(dict(
                row, seqno=seqno, op=op,
                old_size=old if op == "UPDATE" else None,
                event_time=t0 + dt.timedelta(seconds=seqno),
            ))
        batches.append(batch)
    return batches


def write_inputs(seed: int, out_dir: str, scale: float = 1.0) -> str:
    """Write the tables under ``out_dir`` once; a complete directory (its
    ``_DONE`` marker exists) is reused. The tables are written beside it
    and renamed into place, so a reader never sees a partial set.
    Returns ``out_dir``."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write(f"seed={seed} scale={scale}\n")
    try:
        os.rename(tmp, out_dir)
    except OSError:  # another run finished the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir
