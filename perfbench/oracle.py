"""Output checks on DuckDB, run after the timed region.

Each check evaluates the same request, job or replay on DuckDB over the
generated input files and compares it with what the engine returned,
using the repository's oracle normalisation and order-insensitive value
hash (``tools/oracle_check.py``).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from hadoop_ozone_spark import model
from tools.oracle_check import normalize, value_hash

import gen


def connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in model.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    con.execute("CREATE TABLE om_keys_t AS " + model.with_ctes(model.OM_KEYS_CTE, body="SELECT * FROM om_keys"))
    return con


def namespace(con) -> gen.Namespace:
    """The generated namespace as the engine derives it: the ``om_keys``
    rows that :func:`connect` built from ``model.OM_KEYS_CTE``, so every
    request and CDC event names keys the engine really holds."""
    cur = con.execute(
        "SELECT volume, bucket, key, row_key, data_size, replication_factor, container_id,"
        " datanode_id, creation_time FROM om_keys_t ORDER BY row_key"
    )
    cols = [d[0] for d in cur.description]
    rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    (n_containers,) = con.execute("SELECT count(*) FROM part").fetchone()
    (n_datanodes,) = con.execute("SELECT count(*) FROM supplier").fetchone()
    return gen.Namespace(rows, n_containers, n_datanodes)


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    return value_hash(normalize(got)) == value_hash(normalize(want))


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# -- api_serving: one SQL twin per request kind, over the om_keys table ---

# columns of each response that the check compares
RESPONSE_COLUMNS = {
    "lookup_key": ["row_key", "data_size", "container_id"],
    "list_keys": ["row_key", "data_size"],
    "list_objects_v2": ["name", "entry_type", "size"],
    "list_status": ["name", "is_dir", "num_files", "total_size"],
    "containers_keys": ["container_id", "row_key", "data_size", "state"],
    "namespace_summary": ["volume", "bucket", "dir", "num_files", "size_of_files"],
    "utilization_file_count": ["volume", "bucket", "file_size", "cnt"],
}


def request_sql(kind: str, a: dict) -> str:
    if kind == "lookup_key":
        return f"SELECT row_key, data_size, container_id FROM om_keys_t WHERE row_key = {_q(a['row_key'])}"
    vb = ""
    if "volume" in a:
        vb = f"volume = {_q(a['volume'])} AND bucket = {_q(a['bucket'])}"
    if kind == "list_keys":
        pfx = f"/{a['volume']}/{a['bucket']}/"
        return (
            f"SELECT row_key, data_size FROM om_keys_t WHERE {vb} AND starts_with(row_key, {_q(pfx)})"
            f" AND row_key > {_q(a['start_key'])} ORDER BY row_key LIMIT {a['max_keys']}"
        )
    if kind == "list_objects_v2":
        p = a["prefix"]
        rel = f"substring(key, {len(p) + 1}, 1000000)"
        scope = f"{vb} AND starts_with(key, {_q(p)})"
        return (
            f"SELECT * FROM (SELECT DISTINCT concat({_q(p)}, split_part({rel}, '/', 1), '/') AS name,"
            f" 'PREFIX' AS entry_type, CAST(0 AS BIGINT) AS size FROM om_keys_t"
            f" WHERE {scope} AND strpos({rel}, '/') > 0"
            f" UNION ALL SELECT key AS name, 'KEY' AS entry_type, data_size AS size FROM om_keys_t"
            f" WHERE {scope} AND strpos({rel}, '/') = 0) ORDER BY name LIMIT {a['max_keys']}"
        )
    if kind == "list_status":
        p = a["dir_path"].rstrip("/") + "/"
        rel = f"substring(key, {len(p) + 1}, 1000000)"
        return (
            f"SELECT concat({_q(p)}, split_part({rel}, '/', 1)) AS name,"
            f" max(strpos({rel}, '/') > 0) AS is_dir, count(*) AS num_files,"
            f" CAST(SUM(data_size) AS BIGINT) AS total_size FROM om_keys_t"
            f" WHERE {vb} AND starts_with(key, {_q(p)}) GROUP BY 1"
        )
    if kind == "containers_keys":
        return model.with_ctes(
            model.CONTAINERS_CTE,
            body=(
                "SELECT k.container_id, k.row_key, k.data_size, c.state FROM om_keys_t k"
                " JOIN containers c ON k.container_id = c.container_id"
                f" WHERE k.container_id = {int(a['container_id'])}"
                f" ORDER BY k.row_key LIMIT {a['max_keys']}"
            ),
        )
    if kind == "namespace_summary":
        return (
            "SELECT volume, bucket, dir, count(*) AS num_files,"
            " CAST(SUM(data_size) AS BIGINT) AS size_of_files FROM ("
            f" SELECT volume, bucket, split_part(key, '/', 1) AS dir, data_size FROM om_keys_t WHERE {vb}"
            " UNION ALL SELECT volume, bucket,"
            " concat(split_part(key, '/', 1), '/', split_part(key, '/', 2)) AS dir, data_size"
            f" FROM om_keys_t WHERE {vb}) GROUP BY volume, bucket, dir"
        )
    if kind == "utilization_file_count":
        from hadoop_ozone_spark.functions.binning import file_size_upper_bound_sql

        return (
            f"SELECT volume, bucket, {file_size_upper_bound_sql('data_size')} AS file_size,"
            f" count(*) AS cnt FROM om_keys_t WHERE {vb} GROUP BY 1, 2, 3"
        )
    raise ValueError(f"unknown request kind {kind}")


def check_requests(con, responses: list[tuple[str, dict, list | None]]) -> list[bool]:
    """One verdict per (kind, args, rows) response; rows None = errored."""
    cache: dict[str, pd.DataFrame] = {}
    verdicts = []
    for kind, args, rows in responses:
        if rows is None:
            verdicts.append(False)
            continue
        sql = request_sql(kind, args)
        if sql not in cache:
            cache[sql] = con.execute(sql).fetchdf()
        cols = RESPONSE_COLUMNS[kind]
        got = pd.DataFrame([[r[c] for c in cols] for r in rows], columns=cols)
        verdicts.append(same(got, cache[sql]))
    return verdicts


# -- pipeline_batch: the registered oracle twin of each job --------------

def check_jobs(con, results: dict[str, pd.DataFrame | None]) -> dict[str, bool]:
    oracles = entrymod.oracle_sql()
    out = {}
    for name, got in results.items():
        out[name] = got is not None and same(got, con.execute(oracles[name]).fetchdf())
    return out


# -- cdc_ingest: replay of every applied event ----------------------------

def replay_cdc(con, events: pd.DataFrame) -> tuple[pd.DataFrame, dict]:
    """Final keyTable and mart totals after ``events``: latest op per key
    wins, DELETE drops the key; the mart sums the signed size deltas."""
    con.register("cdc_events", events)
    state = con.execute(
        """
        WITH latest AS (
          SELECT * FROM cdc_events
          QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY seqno DESC) = 1
        )
        SELECT row_key, data_size, volume, bucket FROM om_keys_t
        WHERE row_key NOT IN (SELECT row_key FROM cdc_events)
        UNION ALL
        SELECT row_key, data_size, volume, bucket FROM latest WHERE op <> 'DELETE'
        """
    ).fetchdf()
    net_count, net_bytes, last_seqno = con.execute(
        """
        SELECT CAST(SUM(CASE op WHEN 'PUT' THEN 1 WHEN 'DELETE' THEN -1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE op WHEN 'PUT' THEN data_size WHEN 'DELETE' THEN -data_size
                             ELSE data_size - coalesce(old_size, 0) END) AS BIGINT),
               max(seqno)
        FROM cdc_events
        """
    ).fetchone()
    con.unregister("cdc_events")
    return state, {"net_count": net_count, "net_bytes": net_bytes, "last_seqno": last_seqno}
