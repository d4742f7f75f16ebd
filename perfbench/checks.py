"""Correctness checks, independent of Spark, run outside the timed region.

``check_ingest`` reads the committed fact with DuckDB and holds it to the
generator's ledger. ``DashboardOracle`` rebuilds the warehouse in DuckDB
from the same master CSVs and fact parquet and answers each dashboard
query there; results are compared with the repository's order-insensitive
``table_hash`` (with a 1e-5 numeric tolerance as the fallback, and a
tie-aware comparison for top-k ops).
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from collections import Counter
from dataclasses import dataclass, field
import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb

import gen


@dataclass
class IngestVerdict:
    failed_files: set[str] = field(default_factory=set)
    summary: dict = field(default_factory=dict)


def fact_glob(out_dir: str) -> str:
    return os.path.join(out_dir, "*.parquet")


def check_ingest(out_dir: str, ledgers: list[gen.FileLedger]) -> IngestVerdict:
    """Hold the committed fact to the ledger.

    Whole-table: ``sales_id`` unique and contiguous from 1, row count,
    exact ``SUM(sales_amount)`` and rows per ``date_id`` equal to the
    ledger's. Per file (an order id encodes its file): row count and
    amount. A whole-table failure fails every file.
    """
    verdict = IngestVerdict()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW fact AS SELECT * FROM read_parquet('{fact_glob(out_dir)}')")
        n, n_ids, lo, hi, amount = con.execute(
            "SELECT count(*), count(DISTINCT sales_id), min(sales_id), max(sales_id), "
            "sum(sales_amount) FROM fact"
        ).fetchone()
        per_date = Counter(dict(con.execute(
            "SELECT date_id, count(*) FROM fact GROUP BY date_id").fetchall()))
        per_file = {
            int(k): (c, a) for k, c, a in con.execute(
                "SELECT order_id // 1000000 - 1, count(*), sum(sales_amount) "
                "FROM fact GROUP BY 1").fetchall()
        }
    except duckdb.Error as exc:
        verdict.failed_files = {f.name for f in ledgers}
        verdict.summary = {"error": str(exc), "rows": 0}
        return verdict
    finally:
        con.close()

    want_rows = sum(f.matched for f in ledgers)
    want_amount = sum((f.amount for f in ledgers), Decimal("0.00"))
    want_dates: Counter = Counter()
    for f in ledgers:
        want_dates.update(f.per_date)
    problems = []
    if n != want_rows:
        problems.append(f"rows {n} != ledger {want_rows}")
    if n and not (n_ids == n and lo == 1 and hi == n):
        problems.append(f"sales_id not unique/contiguous: {n_ids} ids in [{lo}, {hi}]")
    if (amount or Decimal("0.00")) != want_amount:
        problems.append(f"sum(sales_amount) {amount} != ledger {want_amount}")
    if per_date != want_dates:
        problems.append("rows per date_id differ from the ledger")
    if problems:
        verdict.failed_files = {f.name for f in ledgers}
    for i, f in enumerate(ledgers):
        got = per_file.get(int(f.name[3:9]), (0, Decimal("0.00")))
        if got != (f.matched, f.amount) and f.matched:
            verdict.failed_files.add(f.name)
    verdict.summary = {"rows": n, "problems": problems, "files_failed": len(verdict.failed_files)}
    return verdict


# --------------------------------------------------------------------------
# dashboard
# --------------------------------------------------------------------------

def _table_hash():
    """The repository's order-insensitive result hash."""
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_correctness import table_hash

    return table_hash


_MICRO = Decimal("0.000001")


def canon(v):
    """Engine-neutral value: numbers to 6 decimals (the scale of Spark's
    decimal AVG; DuckDB returns a double there), dates to ISO."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        return str(Decimal(v).quantize(_MICRO, ROUND_HALF_UP))
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def result_hash(rows, columns: list[str]) -> str:
    """``table_hash`` over engine-neutral values; column names lower-cased."""
    return _table_hash()(
        [tuple(canon(v) for v in r) for r in rows], [c.lower() for c in columns]
    )


def _by_name(rows, columns):
    """Columns sorted by lower-cased name, and the rows to match."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return [columns[i].lower() for i in order], [tuple(r[i] for i in order) for r in rows]


def _num(v):
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return float(v)
    return None


def _sort_key(row):
    return tuple(
        (0, _num(x), "") if _num(x) is not None else (1, 0.0, str(canon(x))) for x in row
    )


def _close_value(x, y) -> bool:
    fx, fy = _num(x), _num(y)
    if fx is None or fy is None:
        return canon(x) == canon(y)
    tol = 1e-5
    # A double from one engine against a rounded decimal from the other:
    # rounding the double can land one unit of the decimal's last place
    # away (ROUND(x, 2) of 2534.375 gives .37 in DuckDB, .38 in Spark).
    for a, b in ((x, y), (y, x)):
        if isinstance(a, float) and isinstance(b, Decimal):
            tol = max(tol, 10.0 ** b.as_tuple().exponent * 1.000001)
    return math.isclose(fx, fy, rel_tol=1e-9, abs_tol=tol)


def _close(a, b) -> bool:
    """Row lists (from ``_by_name``) equal up to order and number noise."""
    if len(a) != len(b):
        return False
    return all(
        all(_close_value(x, y) for x, y in zip(ra, rb))
        for ra, rb in zip(sorted(a, key=_sort_key), sorted(b, key=_sort_key))
    )


def _project(rows, columns, keep):
    idx = [i for i, c in enumerate(columns) if c.lower() in keep]
    return [tuple(r[i] for i in idx) for r in rows], [columns[i] for i in idx]


RANK = "rn"


def same_result(rows, columns, want_rows, want_columns, key=(), superset=None) -> bool:
    """Whether a result equals the oracle's.

    Equal by ``table_hash``; failing that, equal row for row with numbers
    within 1e-5, or within one unit of a decimal's last place against a
    double (the two engines round on different sides of a boundary). For
    a top-k op, ``key`` names the columns that decide which rows are kept: when rows tie on them, any
    of the tied rows is right, so the result then only has to match on
    ``key`` and, given the oracle's rows before the cut (``superset``),
    hold only rows from it. A rank column (``rn``) is left out of that
    membership test, as tied rows may take each other's ranks.
    """
    if result_hash(rows, columns) == result_hash(want_rows, want_columns):
        return True
    cols_a, a = _by_name(rows, columns)
    cols_b, b = _by_name(want_rows, want_columns)
    if cols_a != cols_b:
        return False
    if _close(a, b):
        return True
    if not key:
        return False
    if not _close(_by_name(*_project(rows, columns, key))[1],
                  _by_name(*_project(want_rows, want_columns, key))[1]):
        return False
    if superset is None:
        return True
    sup_rows, sup_cols = superset
    keep = {c.lower() for c in columns} - {RANK}
    allowed = {
        tuple(canon(v) for v in r)
        for r in _by_name(*_project(sup_rows, sup_cols, keep))[1]
    }
    return all(
        tuple(canon(v) for v in r) in allowed
        for r in _by_name(*_project(rows, columns, keep))[1]
    )


class DashboardOracle:
    """The warehouse rebuilt in DuckDB from the masters and the fact files."""

    def __init__(self, masters: gen.Masters, fact_dir: str):
        self.con = duckdb.connect()
        c = self.con
        c.execute(f"""CREATE TABLE customer AS SELECT
            CAST(trim(Customer_ID) AS BIGINT) AS customer_id, trim(Gender) AS gender,
            trim(Age) AS age_group, CAST(trim(Occupation) AS INT) AS occupation,
            trim(City_Category) AS city_category, trim(Marital_Status) AS marital_status,
            CAST(trim(Stay_In_Current_City_Years) AS INT) AS stay_in_current_city_years
            FROM read_csv('{masters.customer_csv}', header=true, all_varchar=true)""")
        c.execute(f"""CREATE TABLE pm AS SELECT * FROM
            read_csv('{masters.product_csv}', header=true, all_varchar=true)""")
        c.execute("""CREATE TABLE product AS SELECT trim(Product_ID) AS product_id,
            trim(Product_Category) AS product_category,
            CAST(trim("price$") AS DECIMAL(12,2)) AS price,
            CAST(trim(storeID) AS BIGINT) AS store_id,
            CAST(trim(supplierID) AS BIGINT) AS supplier_id FROM pm""")
        c.execute("""CREATE TABLE store AS SELECT DISTINCT CAST(trim(storeID) AS BIGINT)
            AS store_id, trim(storeName) AS store_name FROM pm
            UNION ALL SELECT 1, 'Unknown Store'""")
        c.execute("""CREATE TABLE supplier AS SELECT DISTINCT
            CAST(trim(supplierID) AS BIGINT) AS supplier_id,
            trim(supplierName) AS supplier_name FROM pm
            UNION ALL SELECT 1, 'Unknown Supplier'""")
        c.execute("""CREATE TABLE date_dim AS SELECT
            CAST(strftime(d, '%Y%m%d') AS INT) AS date_id, CAST(d AS DATE) AS transaction_date,
            CAST(day(d) AS INT) AS day_num, CAST(month(d) AS INT) AS month_num,
            CAST(year(d) AS INT) AS year, strftime(d, '%A') AS day_of_week,
            CAST(quarter(d) AS INT) AS quarter_num, dayofweek(d) IN (0, 6) AS is_weekend
            FROM range(DATE '2017-01-01', DATE '2021-01-01', INTERVAL 1 DAY) t(d)""")
        c.execute(f"CREATE TABLE sales AS SELECT * FROM read_parquet('{fact_glob(fact_dir)}')")
        self._cache: dict[str, tuple[list, list[str]]] = {}

    def expected(self, sql: str, setup: str | None = None) -> tuple[list, list[str]]:
        """Rows and column names of ``sql``; ``setup`` runs first (a view DDL)."""
        if sql not in self._cache:
            if setup:
                self.con.execute(setup)
            cur = self.con.execute(sql)
            self._cache[sql] = (cur.fetchall(), [d[0] for d in cur.description])
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()
