"""Seeded generator of reference-shaped warehouse inputs, with a ledger.

Writes the two master CSVs (customers, denormalized product master) and
transaction CSV files in the shape of the reference's feed, including
its dirt: unknown customers and products, string-float quantities, four
date formats plus unparseable dates, whitespace padding, rows missing a
required field and a header-alias variant file. Product keys follow a
Zipf law. The same seed yields byte-identical files.

The ledger is the benchmark's independent model of what the warehouse
must hold after ingesting a file: rows written, rows that survive the
required-field drop, rows whose customer is known (the rows committed to
the fact table), their exact ``Decimal`` ``sales_amount`` sum and their
count per ``date_id``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal

N_CUSTOMERS = 5891
N_PRODUCTS = 3631
FIRST_CUSTOMER = 1000001
CATEGORIES = (
    "Appliances", "Beauty", "Books", "Clothing", "Electronics", "Food",
    "Furniture", "Garden", "Grocery", "Health", "Home", "Jewelry",
    "Kitchen", "Music", "Office", "Outdoors", "Pets", "Shoes", "Sports",
    "Toys",
)
# Store ids 2..8 and supplier ids 2..7 leave id 1 to the warehouse's
# injected defaults: 8 stores and 7 suppliers in the built dimensions.
STORES = {i: f"Store {i}" for i in range(2, 9)}
SUPPLIERS = {i: f"Supplier {i}" for i in range(2, 8)}
GENDERS = ("M", "F")
AGE_GROUPS = ("0-17", "18-25", "26-35", "36-45", "46-50", "51-55", "55+")
CITY = ("A", "B", "C")
YEARS = (2017, 2018, 2019, 2020)
SENTINEL_DATE_ID = 19000101  # the stream's documented fallback date
TX_HEADER = "orderID,Customer_ID,Product_ID,quantity,date"
ALIAS_HEADER = "order_id,customer_id,Product_ID,Quantity,transaction_date"
TX_SCHEMA_DDL = (
    "orderID string, Customer_ID string, Product_ID string, "
    "quantity string, date string"
)
DATE_FORMATS = ("%Y-%m-%d", "%d-%m-%Y", "%m/%d/%Y", "%Y/%m/%d")
BAD_DATES = ("not-a-date", "2019-13-45", "31/31/2018")
ZIPF_S = 1.1
# What the stream assigns a product missing from the master: price 0,
# the default store and supplier.
UNKNOWN_PRODUCT = (Decimal("0.00"), 1, 1)


@dataclass
class Masters:
    """Generated master data, kept in memory for the ledger."""

    products: dict[str, tuple[Decimal, int, int]]  # id -> price, store, supplier
    customer_csv: str
    product_csv: str


@dataclass
class FileLedger:
    """What one transaction file must contribute to the fact table."""

    name: str
    rows: int = 0
    valid: int = 0
    matched: int = 0
    amount: Decimal = Decimal("0.00")
    per_date: Counter = field(default_factory=Counter)
    # (order_id, customer_id, product_id, date_id, store_id, supplier_id,
    # sales_amount, quantity) per committed row, when asked for
    fact_rows: list[tuple] | None = None


def _pad(rng: random.Random, s: str) -> str:
    return f"  {s} " if rng.random() < 0.05 else s


def write_masters(seed: int, out_dir: str) -> Masters:
    """Write ``customers.csv`` and ``products.csv`` at the reference's sizes."""
    rng = random.Random(f"masters-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    lines = [
        "index,Customer_ID,Gender,Age,Occupation,City_Category,"
        "Stay_In_Current_City_Years,Marital_Status"
    ]
    for i in range(N_CUSTOMERS):
        lines.append(
            f"{i},{FIRST_CUSTOMER + i},{rng.choice(GENDERS)},"
            f"{rng.choice(AGE_GROUPS)},{rng.randrange(21)},{rng.choice(CITY)},"
            f"{rng.randrange(5)},{rng.randrange(2)}"
        )
    customer_csv = os.path.join(out_dir, "customers.csv")
    _write(customer_csv, "\n".join(lines) + "\n")

    products: dict[str, tuple[Decimal, int, int]] = {}
    lines = [
        "index,Product_ID,Product_Category,price$,storeID,supplierID,"
        "storeName,supplierName"
    ]
    for i in range(N_PRODUCTS):
        pid = f"P{10000000 + i * 7919 % 90000000:08d}"
        price = Decimal(rng.randrange(202, 7996)) / 100
        store = rng.choice(list(STORES))
        supplier = rng.choice(list(SUPPLIERS))
        products[pid] = (price, store, supplier)
        lines.append(
            f"{i},{pid},{rng.choice(CATEGORIES)},{price},{store},{supplier},"
            f"{STORES[store]},{SUPPLIERS[supplier]}"
        )
    product_csv = os.path.join(out_dir, "products.csv")
    _write(product_csv, "\n".join(lines) + "\n")
    return Masters(products, customer_csv, product_csv)


class TransactionGenerator:
    """Deterministic stream of transaction files over one master set.

    Every file's content depends only on the seed and the file's index,
    so a file can be generated ahead of time (backlog) or on the fly
    (live landing) with the same bytes either way.
    """

    def __init__(self, seed: int, masters: Masters):
        self.seed = seed
        self.masters = masters
        self.product_ids = list(masters.products)
        rng = random.Random(f"zipf-{seed}")
        rng.shuffle(self.product_ids)  # hot keys spread over the catalog
        weights, total = [], 0.0
        for rank in range(1, len(self.product_ids) + 1):
            total += 1.0 / rank**ZIPF_S
            weights.append(total)
        self.cum_weights = weights

    def render(
        self, index: int, n_rows: int, keep_rows: bool = False
    ) -> tuple[str, FileLedger]:
        """The CSV text of file ``index`` and its ledger entry."""
        rng = random.Random(f"tx-{self.seed}-{index}")
        name = f"tx_{index:06d}.csv"
        ledger = FileLedger(name, fact_rows=[] if keep_rows else None)
        header = ALIAS_HEADER if index == 1 else TX_HEADER
        lines = [header]
        order_id = 1_000_000 * (index + 1)
        products = rng.choices(self.product_ids, cum_weights=self.cum_weights, k=n_rows)
        basket_left = 0
        for r in range(n_rows):
            if basket_left == 0:
                order_id += 1
                basket_left = rng.randint(1, 4)
                known = rng.random() >= 0.015
                cust = (
                    FIRST_CUSTOMER + rng.randrange(N_CUSTOMERS) if known
                    else 2_000_000 + rng.randrange(100_000)
                )
                year = rng.choice(YEARS)
                day = dt.date(year, 1, 1) + dt.timedelta(days=rng.randrange(365))
            basket_left -= 1
            product = products[r]
            if rng.random() < 0.004:
                product = f"P9{rng.randrange(10_000_000):07d}"  # not in the master
            qty = rng.randint(1, 10)
            qty_text = f"{qty}.0" if rng.random() < 0.1 else str(qty)
            if rng.random() < 0.005:
                date_text, date_id = rng.choice(BAD_DATES), SENTINEL_DATE_ID
            else:
                date_text = day.strftime(rng.choice(DATE_FORMATS))
                date_id = day.year * 10000 + day.month * 100 + day.day
            fields = [str(order_id), str(cust), product, qty_text, date_text]
            missing = rng.random() < 0.005
            if missing:
                fields[rng.choice((1, 3, 4))] = ""
            lines.append(",".join(_pad(rng, f) for f in fields))

            ledger.rows += 1
            if missing:
                continue
            ledger.valid += 1
            if not known:
                continue
            price, store, supplier = self.masters.products.get(product, UNKNOWN_PRODUCT)
            amount = price * qty
            ledger.matched += 1
            ledger.amount += amount
            ledger.per_date[date_id] += 1
            if keep_rows:
                ledger.fact_rows.append(
                    (order_id, cust, product, date_id, store, supplier, amount, qty))
        return "\n".join(lines) + "\n", ledger

    def write(self, index: int, n_rows: int, out_dir: str, **kw) -> FileLedger:
        text, ledger = self.render(index, n_rows, **kw)
        _write(os.path.join(out_dir, ledger.name), text)
        return ledger


def land(text: str, staging_dir: str, input_dir: str, name: str) -> None:
    """Land a file atomically: write it aside, then rename into the feed."""
    tmp = os.path.join(staging_dir, name)
    _write(tmp, text)
    os.rename(tmp, os.path.join(input_dir, name))


def _write(path: str, text: str) -> None:
    with open(path, "w", newline="") as fh:
        fh.write(text)
