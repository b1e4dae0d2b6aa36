"""Local stand-in for the driver's correctness gate: run a contract
query through Spark AND its oracle SQL through DuckDB, then compare
row count, column names, and an order-insensitive value multiset."""

from __future__ import annotations

import datetime as _dt
import decimal
import math

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def compare(spark_df, con, sql: str) -> dict:
    cols = sorted(spark_df.columns)
    s_rows = [tuple(_norm(r[c]) for c in cols) for r in spark_df.collect()]
    cur = con.execute(sql)
    o_cols_raw = [d[0] for d in cur.description]
    o_all = cur.fetchall()
    o_idx = [o_cols_raw.index(c) for c in sorted(o_cols_raw)]
    o_rows = [tuple(_norm(row[i]) for i in o_idx) for row in o_all]
    result = {
        "spark_rows": len(s_rows),
        "oracle_rows": len(o_rows),
        "columns_match": cols == sorted(o_cols_raw),
        "spark_cols": cols,
        "oracle_cols": sorted(o_cols_raw),
    }
    result["rows_match"] = len(s_rows) == len(o_rows)
    result["values_match"] = sorted(map(repr, s_rows)) == sorted(map(repr, o_rows))
    if not result["values_match"]:
        s_set, o_set = set(map(repr, s_rows)), set(map(repr, o_rows))
        result["spark_only"] = sorted(s_set - o_set)[:3]
        result["oracle_only"] = sorted(o_set - s_set)[:3]
    result["ok"] = result["columns_match"] and result["rows_match"] and result["values_match"]
    return result


def run_contract(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, dict]:
    """Run every queries()/oracle_sql() pair like the driver does, with
    the oracle SQL over DuckDB views of the same ``sf_dir`` tables the
    Spark queries read."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb_con(sf_dir)
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        if name in oracles:
            results[name] = compare(df, con, oracles[name])
        else:
            n = df.count()
            results[name] = {"spark_rows": n, "rows_only": True, "ok": n >= 0}
    return results
