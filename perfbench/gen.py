"""Seeded submission files for the pipeline workloads, and their expected
outcomes computed with DuckDB, independently of the engine.

Every value comes from `hash(row, column, seed)`, so one seed always gives
byte-identical files. About 2% of rows carry exactly one seeded defect.

    python3 perfbench/gen.py <bulk_submission|concurrent_submissions> <seed> <out_dir>

writes the submission CSVs, the refdata parquet and `expected.json`.
"""
import hashlib
import json
import os
import sys

import duckdb

BULK_ROWS = 300_000
BULK_WARMUP_ROWS = 50_000
ORDERS = 150_000
CUSTOMERS = 15_000
CONCURRENT_FILES = 16
DEFECT_SHARE = 0.02


def _con(seed):
    con = duckdb.connect()
    # one thread: output row order, and so the bytes, never depend on timing
    con.execute("SET threads = 1")
    con.execute("SET enable_progress_bar = false")
    # u(i, k): a uniform draw in [0, 1) for row i and column k
    con.execute(f"CREATE MACRO u(i, k) AS (hash(i, k, {int(seed)}) % 1000003)::DOUBLE / 1000003")
    return con


def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# ------------------------------------------------------------ bulk_submission

LINEITEM_SQL = """
WITH base AS (
  SELECT i,
    1 + floor(u(i, 1) * {orders})::BIGINT AS orderkey,
    1 + floor(u(i, 2) * 20000)::BIGINT AS partkey,
    1 + floor(u(i, 3) * 1000)::BIGINT AS suppkey,
    1 + floor(u(i, 4) * 7)::BIGINT AS linenumber,
    1 + floor(u(i, 5) * 50)::BIGINT AS qty,
    u(i, 6) AS price_draw,
    floor(u(i, 7) * 11) / 100 AS discount,
    CASE WHEN u(i, 15) < 0.01 THEN 0.09 ELSE floor(u(i, 8) * 9) / 100 END AS tax,
    ['A', 'N', 'R'][1 + floor(u(i, 9) * 3)::INT] AS returnflag,
    ['O', 'F'][1 + floor(u(i, 10) * 2)::INT] AS linestatus,
    DATE '1992-01-02' + floor(u(i, 11) * 2500)::INT AS shipdate,
    CASE WHEN u(i, 12) < {defect} THEN floor(u(i, 13) * 4)::INT ELSE -1 END AS defect
  FROM range({first}, {first} + {rows}) t(i)
)
SELECT
  CASE WHEN defect = 3 THEN NULL ELSE orderkey::VARCHAR END AS l_orderkey,
  partkey::VARCHAR AS l_partkey,
  suppkey::VARCHAR AS l_suppkey,
  linenumber::VARCHAR AS l_linenumber,
  (CASE WHEN defect = 1 THEN -qty ELSE qty END)::DOUBLE::VARCHAR AS l_quantity,
  round(qty * (900 + price_draw * 1200), 2)::VARCHAR AS l_extendedprice,
  (CASE WHEN defect = 2 THEN 0.11 + floor(u(i, 14) * 40) / 100 ELSE discount END)::VARCHAR
    AS l_discount,
  tax::VARCHAR AS l_tax,
  returnflag AS l_returnflag,
  linestatus AS l_linestatus,
  CASE WHEN defect = 0 THEN strftime(shipdate, '%d/%m/%Y') ELSE shipdate::VARCHAR END
    AS l_shipdate
FROM base ORDER BY i
"""

ORDERS_SQL = """
SELECT i AS o_orderkey,
  1 + floor(u(i, 21) * {customers})::BIGINT AS o_custkey,
  ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][1 + floor(u(i, 22) * 5)::INT]
    AS o_orderpriority,
  DATE '1992-01-01' + floor(u(i, 23) * 2400)::INT AS o_orderdate
FROM range(1, {orders} + 1) t(i) ORDER BY i
"""

# The lineitem dischema's contract and rules, restated in SQL: a contract
# error per failing field, the two filters as guards (a false guard reports
# a record rejection, a null one drops the row silently), survivors pass all.
LINEITEM_EXPECTED_SQL = """
WITH t AS (
  SELECT *,
    TRY_CAST(l_quantity AS DOUBLE) AS q, TRY_CAST(l_discount AS DOUBLE) AS d,
    TRY_CAST(l_extendedprice AS DOUBLE) AS p, TRY_CAST(l_tax AS DOUBLE) AS x
  FROM read_csv('{path}', header = true, all_varchar = true)
), c AS (
  SELECT *,
    (l_orderkey IS NULL OR TRY_CAST(l_orderkey AS BIGINT) IS NULL)::INT
    + (l_partkey IS NOT NULL AND TRY_CAST(l_partkey AS BIGINT) IS NULL)::INT
    + (l_suppkey IS NOT NULL AND TRY_CAST(l_suppkey AS BIGINT) IS NULL)::INT
    + (l_linenumber IS NULL OR TRY_CAST(l_linenumber AS BIGINT) IS NULL)::INT
    + (l_quantity IS NOT NULL AND (q IS NULL OR q <= 0))::INT
    + (l_extendedprice IS NOT NULL AND p IS NULL)::INT
    + (l_discount IS NOT NULL AND (d IS NULL OR d < 0 OR d > 0.1))::INT
    + (l_tax IS NOT NULL AND x IS NULL)::INT
    + (l_shipdate IS NOT NULL AND TRY_CAST(l_shipdate AS DATE) IS NULL)::INT AS errors,
    p < 95000 AS g_price,
    x IS NOT NULL AND x < 0.085 AS g_tax
  FROM t
)
SELECT count(*),
  count(*) FILTER (WHERE errors > 0),
  sum(errors) + count(*) FILTER (WHERE NOT g_price) + count(*) FILTER (WHERE NOT g_tax),
  count(*) FILTER (WHERE errors = 0 AND g_price AND g_tax)
FROM c
"""


# ----------------------------------------------------- concurrent_submissions

CUSTOMER_SQL = """
WITH base AS (
  SELECT i,
    CASE WHEN u(i, 31) < {defect} THEN floor(u(i, 32) * 4)::INT ELSE -1 END AS defect,
    floor(u(i, 33) * 25)::INT AS nationkey,
    round(-999.99 + u(i, 34) * 10999.98, 2) AS acctbal,
    ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][1 + floor(u(i, 35) * 5)::INT]
      AS segment
  FROM range({first}, {first} + {rows}) t(i)
)
SELECT
  CASE WHEN defect = 0 THEN 'C' || i::VARCHAR ELSE i::VARCHAR END AS c_custkey,
  CASE WHEN defect = 1 THEN NULL ELSE 'Customer#' || lpad(i::VARCHAR, 9, '0') END AS c_name,
  nationkey::VARCHAR AS c_nationkey,
  CASE WHEN defect = 2 THEN 'n/a'
       WHEN defect = 3 THEN (-1 - floor(u(i, 36) * 999))::DOUBLE::VARCHAR
       ELSE acctbal::VARCHAR END AS c_acctbal,
  segment AS c_mktsegment
FROM base ORDER BY i
"""

NATION_SQL = """
SELECT i::INT AS n_nationkey, 'NATION_' || lpad(i::VARCHAR, 2, '0') AS n_name,
  (i % 5)::INT AS n_regionkey
FROM range(0, 25) t(i) ORDER BY i
"""

# The customer dischema (DischemaQueries.dischemaJson) restated in SQL.
CUSTOMER_EXPECTED_SQL = """
WITH t AS (
  SELECT *, TRY_CAST(c_acctbal AS DOUBLE) AS b
  FROM read_csv('{path}', header = true, all_varchar = true)
), c AS (
  SELECT *,
    (c_custkey IS NULL OR TRY_CAST(c_custkey AS BIGINT) IS NULL)::INT
    + (c_name IS NULL)::INT
    + (c_nationkey IS NOT NULL AND TRY_CAST(c_nationkey AS BIGINT) IS NULL)::INT
    + (c_acctbal IS NOT NULL AND (b IS NULL OR b < 0))::INT AS errors,
    b <= 9000 AS g_cap,
    b IS NOT NULL AND b > 1000 AS g_high
  FROM t
)
SELECT count(*),
  count(*) FILTER (WHERE errors > 0),
  sum(errors) + count(*) FILTER (WHERE NOT g_cap) + count(*) FILTER (WHERE NOT g_high),
  count(*) FILTER (WHERE errors = 0 AND g_cap AND g_high)
FROM c
"""


def _expected(con, sql, path):
    rows, rejected_rows, record_rejections, survivors = con.execute(
        sql.format(path=path)).fetchone()
    return {
        "rows": int(rows),
        "contract_rejected_rows": int(rejected_rows),
        "record_rejections": int(record_rejections),
        "survivors": int(survivors),
        "bytes": os.path.getsize(path),
        "sha256": _sha256(path),
    }


def _write_csv(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (HEADER, DELIMITER ',')")


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    con = _con(seed)
    files = {}
    if workload == "bulk_submission":
        con.execute(f"COPY ({ORDERS_SQL.format(orders=ORDERS, customers=CUSTOMERS)}) "
                    f"TO '{out}/orders.parquet' (FORMAT PARQUET)")
        for name, first, rows in (("lineitem.csv", 0, BULK_ROWS),
                                  ("warmup.csv", BULK_ROWS, BULK_WARMUP_ROWS)):
            path = f"{out}/{name}"
            _write_csv(con, LINEITEM_SQL.format(
                orders=ORDERS, defect=DEFECT_SHARE, first=first, rows=rows), path)
            files[name] = _expected(con, LINEITEM_EXPECTED_SQL, path)
    elif workload == "concurrent_submissions":
        con.execute(f"COPY ({NATION_SQL}) TO '{out}/nation.parquet' (FORMAT PARQUET)")
        # seeded slices of one customer table: a start and a length in
        # [1000, 2000] per file; files 2j and 2j + 1 are 3000 rows together,
        # so the rows submitted per round of clients do not depend on the seed
        draws = con.execute(f"""
            SELECT k, 1 + floor(u(k, 41) * {CUSTOMERS - 2000})::BIGINT,
                   1000 + floor(u(k - k % 2, 42) * 1001)::BIGINT
            FROM range(0, {CONCURRENT_FILES + 1}) t(k) ORDER BY k""").fetchall()
        slices = [(k, first, rows if k % 2 == 0 else 3000 - rows) for k, first, rows in draws]
        for k, first, rows in slices:
            name = "warmup.csv" if k == CONCURRENT_FILES else f"sub_{k:02d}.csv"
            path = f"{out}/{name}"
            _write_csv(con, CUSTOMER_SQL.format(defect=DEFECT_SHARE, first=first, rows=rows), path)
            files[name] = _expected(con, CUSTOMER_EXPECTED_SQL, path)
    else:
        raise SystemExit(f"unknown workload: {workload}")
    con.close()
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"workload": workload, "seed": seed, "files": files}, f, indent=1, sort_keys=True)
    return files


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
