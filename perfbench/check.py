"""Output checks for perfbench runs, done after the harness exits.

- Query outputs are compared with their DuckDB oracle over the same corpus,
  normalised exactly as `scripts/verify_local.py` does (columns sorted by
  name, rows sorted, floats rounded to 9 decimals).
- Ingest reads are compared with an independent DuckDB replay of the same
  inserts and mutations over lineitem.
"""
import decimal
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _verify_local(root):
    sys.path.insert(0, os.path.join(root, "scripts"))
    try:
        import verify_local
    finally:
        sys.path.pop(0)
    return verify_local


def query_outputs(root, out, sf_dir, checks):
    """Returns {path: None if the output matches its oracle, else a reason}."""
    canon = _verify_local(root).canon
    con = connect(sf_dir)
    verdicts = {}
    for c in checks:
        path = c["path"]
        try:
            got = canon(con.sql(
                f"SELECT * FROM read_parquet('{out}/{path}/*.parquet')").df())
            want = canon(con.sql(c["oracle"]).df())
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            verdicts[path] = f"exception {e}"
            continue
        if list(got.columns) != list(want.columns):
            verdicts[path] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            verdicts[path] = f"rows {len(got)} != {len(want)}"
        else:
            verdicts[path] = next(
                (f"column {col} differs" for col in got.columns
                 if list(got[col]) != list(want[col])), None)
    return verdicts


READ_SQL = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,"
    " sum(CAST(l_extendedprice AS DECIMAL(18, 2))) AS price,"
    " sum(CAST(l_discount AS DECIMAL(18, 2))) AS disc"
    " FROM {t} GROUP BY l_returnflag, l_linestatus"
    " ORDER BY l_returnflag, l_linestatus")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9) + 0.0)
    if isinstance(v, (decimal.Decimal, str)):
        try:
            return str(decimal.Decimal(v).normalize())
        except decimal.InvalidOperation:
            return v
    return str(v)


def ingest_expected(sf_dir, ingest):
    """{(table, step): normalised rows} from a DuckDB replay of the ops."""
    con = connect(sf_dir)
    cols = ", ".join(ingest["columns"])
    for t in ("exp_mt", "exp_lake"):
        con.execute(f"CREATE TABLE {t} AS SELECT {cols} FROM lineitem LIMIT 0")
    expected = {}
    for op in ingest["ops"]:
        if op["op"] == "insert":
            for t in ("exp_mt", "exp_lake"):
                con.execute(
                    f"INSERT INTO {t} SELECT {cols} FROM lineitem WHERE "
                    f"l_orderkey >= {op['lo']} AND l_orderkey < {op['hi']}")
        elif op["op"] == "update":
            con.execute(f"UPDATE exp_mt SET l_discount = 0 WHERE {op['where']}")
        elif op["op"] == "delete":
            con.execute(f"DELETE FROM exp_mt WHERE {op['where']}")
        else:
            rows = con.sql(READ_SQL.format(t="exp_" + op["table"])).fetchall()
            expected[(op["table"], op["step"])] = normalise(rows)
    return expected


def normalise(rows):
    return [[_norm(v) for v in r] for r in rows]
