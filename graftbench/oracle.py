"""DuckDB oracle digests for the registered queries.

A digest is the query's result under the repr-strict rules of
``tests/oracle_compare.py``: column names, row count and the sorted
multiset of ``repr(row)`` with columns in name order, plus each column's
type category. Oracle digests are computed once per run, in a separate
process started before the Spark session (``python3 -m graftbench.oracle
DATA_DIR OUT_JSON TABLES QUERIES``); each timed Spark result is reduced to
the same digest and compared.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import duckdb

from refitd_etl_spark.plans import ALL_QUERIES
from tests.oracle_compare import _spark_type_category, rows_to_multiset


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in rows_to_multiset(cols, rows):
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


def _duck_type_category(type_name: str) -> str:
    """DuckDB column type → the category ``oracle_compare`` gives its
    Arrow form (HUGEINT arrives in Arrow as decimal128)."""
    t = type_name.upper()
    if t.endswith("]") or t.startswith(("STRUCT", "MAP", "UNION")):
        return "complex"
    if t == "HUGEINT" or t.startswith("DECIMAL"):
        return "decimal"
    if re.fullmatch(r"U?(TINYINT|SMALLINT|INTEGER|BIGINT)", t):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    return "other"


def dedup_clusters_digest(con, pairs: list[tuple] | None = None) -> dict:
    """``dedup_clusters``' oracle evaluated in two steps: the oracle's own
    pair CTEs in DuckDB, then the recursive ``walk`` (min doc_id over each
    connected component) as a union-find in Python. DuckDB 1.0 re-plans
    the pair CTEs inside the recursion (33 s at 3000 documents against
    5 s for the pairs alone); ``selftest.py`` pins this digest to the
    full SQL oracle's. ``pairs`` may pass in rows of the same CTEs
    (``minhash_lsh_pairs``' oracle) already fetched."""
    from refitd_etl_spark.plans.dedup import _PAIR_CTES

    if pairs is None:
        pairs = con.execute(f"WITH {_PAIR_CTES} SELECT doc_a, doc_b FROM pairs").fetchall()
    parent = {d: d for (d,) in con.execute("SELECT doc_id FROM documents").fetchall()}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(d, root(d), d == root(d)) for d in parent]
    cols = ["doc_id", "cluster_id", "is_canonical"]
    return {"digest": rows_digest(cols, rows),
            "types": {"doc_id": "int", "cluster_id": "int", "is_canonical": "bool"}}


def spark_types(df) -> dict[str, str]:
    return {f.name: _spark_type_category(f.dataType) for f in df.schema.fields}


def spark_digest(df, rows) -> str:
    return rows_digest(list(df.columns), [tuple(r) for r in rows])


def _sql_rows(con, sql: str) -> tuple[list[str], dict[str, str], list[tuple]]:
    rel = con.sql(sql)
    cols = list(rel.columns)
    return cols, {c: _duck_type_category(str(t)) for c, t in zip(cols, rel.types)}, rel.fetchall()


def sql_digest(con, sql: str) -> dict:
    cols, types, rows = _sql_rows(con, sql)
    return {"digest": rows_digest(cols, rows), "types": types}


def connect(data_dir: str, tables: tuple[str, ...]):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_digests(data_dir: str, tables: tuple[str, ...], names: list[str],
                   threads: int = 4) -> dict[str, dict]:
    """name → {"digest": ..., "types": {col: category}} for each query."""
    con = connect(data_dir, tables)
    con.execute(f"SET threads = {threads}")
    out, pairs = {}, None
    for name in names:
        sql = ALL_QUERIES[name].oracle
        if sql is None:
            raise ValueError(f"{name} has no oracle SQL")
        if name == "dedup_clusters":
            out[name] = dedup_clusters_digest(con, pairs)
        elif name == "minhash_lsh_pairs":
            # the same rows seed dedup_clusters' closure
            cols, types, pairs = _sql_rows(con, sql)
            out[name] = {"digest": rows_digest(cols, pairs), "types": types}
        else:
            out[name] = sql_digest(con, sql)
    con.close()
    return out


def check(name: str, df, rows, expected: dict) -> str | None:
    """None when the Spark result matches the oracle digest, else why not."""
    got_types = spark_types(df)
    bad = {c: (got_types.get(c), t) for c, t in expected["types"].items() if got_types.get(c) != t}
    if bad:
        return f"{name}: type category mismatch (spark, duck): {bad}"
    got = spark_digest(df, rows)
    if got != expected["digest"]:
        return f"{name}: digest mismatch spark={got[:24]} duck={expected['digest'][:24]}"
    return None


if __name__ == "__main__":
    data_dir, out_path, tables, names = sys.argv[1:5]
    digests = oracle_digests(data_dir, tuple(tables.split(",")), names.split(","))
    with open(out_path + ".tmp", "w") as f:
        json.dump(digests, f)
    os.replace(out_path + ".tmp", out_path)
