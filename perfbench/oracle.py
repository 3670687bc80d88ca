"""Check query outputs against the registry's DuckDB oracles.

Outputs are reduced to a digest of the order-insensitive row multiset
that ``scripts/check_oracle_parity.py`` compares (its ``normalize`` and
``to_rowset``), plus the sorted column names. Expected digests are cached
per (workload, seed, scale, generator version and parameters, oracle
SQL), because some component oracles take minutes on larger corpora.
"""

from __future__ import annotations

import hashlib
import json
import os

from scripts.check_oracle_parity import to_rowset


def digest(columns: list[str], rows: list[tuple]) -> str:
    rowset = to_rowset(columns, rows)
    items = sorted(rowset.items(), key=repr)
    payload = repr((sorted(columns), items)).encode()
    return hashlib.sha256(payload).hexdigest()


def _connect(data_dir: str, tables):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def expected_digests(oracles: dict[str, str], queries, manifest: dict,
                     data_dir: str, cache_dir: str) -> dict[str, str]:
    """Digest of each query's oracle output on the generated tables,
    from the cache when the same inputs and SQL were checked before. A
    query without an oracle, or whose oracle fails, maps to an
    ``"error: ..."`` string."""
    params = json.dumps(manifest["params"], sort_keys=True).encode()
    key = "{workload}-s{seed}-x{scale}-g{generator_version}".format(**manifest) \
        + "-" + hashlib.sha256(params).hexdigest()[:12]
    path = os.path.join(cache_dir, key + ".json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    out, con, dirty = {}, None, False
    for q in queries:
        sql = oracles.get(q)
        if sql is None:
            out[q] = "error: no oracle registered"
            continue
        sql_key = hashlib.sha256(sql.encode()).hexdigest()
        hit = cache.get(q)
        if hit and hit["sql"] == sql_key:
            out[q] = hit["digest"]
            continue
        if con is None:
            con = _connect(data_dir, manifest["rows"])
        try:
            out[q] = digest(*_fetch(con, sql))
        except Exception as e:  # noqa: BLE001 — reported as a failed check
            out[q] = f"error: oracle failed: {type(e).__name__}: {e}"[:300]
            continue
        cache[q] = {"sql": sql_key, "digest": out[q]}
        dirty = True
    if con is not None:
        con.close()
    if dirty:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return out


def parquet_digest(path: str) -> str:
    """Digest of a Spark-written parquet directory, read back by DuckDB."""
    import duckdb
    con = duckdb.connect()
    try:
        return digest(*_fetch(
            con, f"SELECT * FROM read_parquet('{path}/*.parquet')"))
    finally:
        con.close()
