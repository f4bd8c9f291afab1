"""Correctness checks, run outside the timed region.

Every check compares the program's output with an independent DuckDB
computation over the same generated inputs and returns a list of
mismatch descriptions (empty when correct).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb


# ---------------------------------------------------------------- hashing
def _canon(v):
    """Engine-neutral form of one value: floats at 6 dp, integral
    decimals as ints, midnight datetimes as dates, structs as sorted
    items, arrays as tuples."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else round(float(v), 6)
    if isinstance(v, dt.datetime):
        v = v.replace(tzinfo=None)
        return v.date().isoformat() if v.time() == dt.time() else v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def result_hash(columns: list[str], rows) -> tuple[int, tuple, str]:
    """Order-insensitive (row count, sorted column names, digest)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), tuple(columns[i] for i in order), digest


def duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str, names) -> None:
    for t in names:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def check_query(name: str, columns: list[str], rows, oracle_sql: str, con) -> list[str]:
    """Hash-compare one query's Spark result with its DuckDB oracle."""
    got = result_hash(columns, rows)
    cur = con.execute(oracle_sql)
    want = result_hash([d[0] for d in cur.description], cur.fetchall())
    return [] if got == want else [f"{name}: spark {got} != duckdb {want}"]


# ------------------------------------------------------------ daily refresh
def _csv(src: str, stem: str) -> str:
    return f"read_csv('{src}/{stem}.csv', header=true, all_varchar=true)"


def _parquet(table_dir: str) -> str:
    # table paths may be symlinks to snapshot dirs; glob the target
    return f"read_parquet('{os.path.realpath(table_dir)}/**/*.parquet', hive_partitioning=true)"


def _refresh_expected(con, sources: list[str]) -> dict[str, tuple]:
    """Expected DW fact totals and Product SCD2 counts after refreshing
    from ``sources`` (one extract dir per day, oldest first), computed
    from the CSVs alone. Ordr_Sm_Fct and Ordr_Dtl_Fct append only keys
    they have not seen, so a key keeps the amounts of the day it first
    arrived; Prdct_Sm_Fct is rebuilt from the latest extract."""
    def items_orders(src):
        return (f"SELECT i.PRODUCTID, i.SalesOrderID, i.GROSSAMOUNT::BIGINT AS amt "
                f"FROM {_csv(src, 'SalesOrderItems')} i "
                f"JOIN {_csv(src, 'SalesOrder')} o USING (SalesOrderID)")

    con.execute("CREATE OR REPLACE TEMP TABLE ordr (id VARCHAR, amt BIGINT)")
    con.execute("CREATE OR REPLACE TEMP TABLE dtl (o VARCHAR, p VARCHAR, amt BIGINT)")
    expired = 0
    for k, src in enumerate(sources):
        con.execute(
            f"INSERT INTO ordr SELECT SalesOrderID, GROSSAMOUNT::BIGINT "
            f"FROM {_csv(src, 'SalesOrder')} WHERE SalesOrderID NOT IN (SELECT id FROM ordr)")
        con.execute(
            f"INSERT INTO dtl SELECT SalesOrderID, PRODUCTID, SUM(amt) FROM ({items_orders(src)}) "
            f"WHERE (SalesOrderID, PRODUCTID) NOT IN (SELECT (o, p) FROM dtl) GROUP BY 1, 2")
        if k:
            expired += con.execute(
                f"SELECT COUNT(*) FROM {_csv(sources[k - 1], 'Product')} a "
                f"JOIN {_csv(src, 'Product')} b USING (PRODUCTID) "
                f"WHERE (a.PRODCATEGORYID, a.PARTNERID, a.PRICE) "
                f"IS DISTINCT FROM (b.PRODCATEGORYID, b.PARTNERID, b.PRICE)").fetchone()[0]
    last = sources[-1]
    return {
        "prdct_sm_fct": con.execute(
            f"SELECT COUNT(*), SUM(amt) FROM (SELECT PRODUCTID, Date, SUM(i.GROSSAMOUNT::BIGINT) amt "
            f"FROM {_csv(last, 'SalesOrderItems')} i JOIN {_csv(last, 'SalesOrder')} o "
            f"USING (SalesOrderID) GROUP BY 1, 2)").fetchone(),
        "ordr_sm_fct": con.execute("SELECT COUNT(*), SUM(amt) FROM ordr").fetchone(),
        "ordr_dtl_fct": con.execute("SELECT COUNT(*), SUM(amt) FROM dtl").fetchone(),
        "product": (
            con.execute(f"SELECT COUNT(DISTINCT PRODUCTID) FROM {_csv(last, 'Product')}").fetchone()[0],
            expired,
        ),
    }


def check_refresh(sources: list[str], warehouse: str) -> list[str]:
    """Compare the warehouse after ``len(sources)`` refresh days with
    :func:`_refresh_expected`: fact row counts and amount sums, and
    current/expired Product versions."""
    con = duckdb.connect()
    want = _refresh_expected(con, sources)
    dw = os.path.join(warehouse, "dw")
    got = {
        "prdct_sm_fct": con.execute(
            f"SELECT COUNT(*), SUM(Sale_Amt) FROM {_parquet(dw + '/prdct_sm_fct')}").fetchone(),
        "ordr_sm_fct": con.execute(
            f"SELECT COUNT(*), SUM(Ordr_Amt) FROM {_parquet(dw + '/ordr_sm_fct')}").fetchone(),
        "ordr_dtl_fct": con.execute(
            f"SELECT COUNT(*), SUM(Sale_Amt) FROM {_parquet(dw + '/ordr_dtl_fct')}").fetchone(),
        "product": con.execute(
            f"SELECT COUNT(*) FILTER (CURRENT_FLAG = 1), COUNT(*) FILTER (CURRENT_FLAG = 0) "
            f"FROM {_parquet(os.path.join(warehouse, 'ods', 'product'))}").fetchone(),
    }
    con.close()
    return [
        f"day {len(sources)} {t}: got {tuple(got[t])} want {tuple(want[t])}"
        for t in want
        if tuple(got[t]) != tuple(want[t])
    ]


# ------------------------------------------------------------ stream window
def check_windows(spark_rows, columns: list[str], events_dir: str) -> list[str]:
    """The streamed window table must equal the batch computation of
    1-hour tumbling windows over the same event files."""
    con = duckdb.connect()
    cur = con.execute(
        "SELECT CAST(epoch_us(ts) // 3600000000 * 3600 AS BIGINT) AS window_start, "
        "event_type, COUNT(*) AS n_events, "
        "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents "
        f"FROM read_parquet('{events_dir}/*.parquet') GROUP BY 1, 2")
    want = result_hash([d[0] for d in cur.description], cur.fetchall())
    con.close()
    got = result_hash(columns, spark_rows)
    return [] if got == want else [f"{events_dir}: stream {got} != batch {want}"]
