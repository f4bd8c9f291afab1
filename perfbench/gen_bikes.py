"""Seeded generator for the nine bikes source extracts (CSV).

Writes the files ``BikesPipeline`` reads — one per key of
``schemas.SOURCE_SCHEMAS`` — with the quirks of the reference extract
(FIXTURES.md §1): junk characters in customer names, a UTF-8 BOM on
Address and Store, one customer id whose rows differ only in columns the
ETL drops, order items that reference no order, and day-first
``dd-MM-yyyy`` dates.

Day 1 is a full extract. Day 2 is a full re-extract of the same seed
with the changes a daily refresh sees: about 1 % of order and item
amounts changed, about 1 % new orders dated on day 2, SCD1 updates on
Customer, and every 5th Product repriced (an SCD2 change).
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

CATEGORIES = [
    ("RO", "Road Bike"), ("BX", "BMX"), ("CC", "Cyclocross Bike"),
    ("CB", "Cruiser Bike"), ("DB", "Dirt Bike"), ("EB", "E-Bike"),
    ("HB", "Hybrid Bike"), ("MB", "Mountain Bike"), ("RC", "Racing Bike"),
]
FIRST = ["Laraine", "Eli", "Arlin", "Talbot", "Sheila-kathryn", "Curr",
         "Fina", "Rod", "Mala", "Fiorenze", "Kristos", "Lauree", "Merrill"]
LAST = ["Medendorp", "Bockman", "Dearle", "O-Farrell", "Calton", "Ducker",
        "Merrikin", "Inder", "Lockwood", "Knapton", "Gottelier", "Burrel"]
JUNK = ["@%", "#", "&&", "*"]
CITIES = [("Seattle", "US", "AMER"), ("Boston", "US", "AMER"),
          ("Berlin", "DE", "EMEA"), ("Paris", "FR", "EMEA"),
          ("Tokyo", "JP", "APJ"), ("Sydney", "AU", "APJ")]
INDUSTRY = ["Health", "Retail", "IT", "Manufacturing", "Financial Services"]
WEALTH = ["Mass Customer", "High Net Worth", "Affluent Customer"]

# (file stem, header) in SOURCE_SCHEMAS order
HEADERS = {
    "Customer": "customer_id,first_name,last_name,gender,DOB,"
                "job_industry_category,wealth_segment,deceased_indicator",
    "Address": "ADDRESSID,CITY,COUNTRY,REGION,POSTALCODE",
    "BusinessPartner": "PARTNERID,EMAILADDRESS,ADDRESSID,COMPANYNAME",
    "ProductCategory": "PRODCATEGORYID,PRODCATEGORYNAME",
    "Product": "PRODUCTID,PRODCATEGORYID,PARTNERID,PRICE",
    "ProductDetail": "PRODUCTID,PRODUCT_NAME",
    "Store": "StoreID,manager,AddressID,phone",
    "SalesOrder": "SalesOrderID,PARTNERID,SALESORG,GROSSAMOUNT,Ordertype,"
                  "StoreID,Date,RATING,customer_id",
    "SalesOrderItems": "SalesOrderItemsID,PRODUCTID,SalesOrderID,"
                       "GROSSAMOUNT,QUANTITY",
}
BOM_FILES = ("Address", "Store")
ORDER_BASE = 500_000_000
DUPLICATE_CUSTOMER = 10  # rows differ only in the three dropped columns
N_ORPHANS = 5
# last fact date of day 1; day-1 fact dates cover span_days up to it
DAY1_END = dt.date(2019, 12, 31)


@dataclass(frozen=True)
class Sizes:
    orders: int
    customers: int
    products: int
    partners: int
    addresses: int
    stores: int
    span_days: int  # fact dates span this many calendar days


@dataclass
class Extract:
    """One day's extract: rows per file stem, plus the run dates."""

    rows: dict[str, list[list]] = field(default_factory=dict)
    as_of_date: str = ""
    run_ts: str = ""


def _ddmmyyyy(d: dt.date) -> str:
    return d.strftime("%d-%m-%Y")


def _junk(rng: random.Random, name: str) -> str:
    i = rng.randrange(len(name) + 1)
    return name[:i] + rng.choice(JUNK) + name[i:]


def _base(seed: int, sizes: Sizes) -> Extract:
    rng = random.Random(seed)
    end = DAY1_END
    start = end - dt.timedelta(days=sizes.span_days - 1)
    rows: dict[str, list[list]] = {}

    rows["ProductCategory"] = [list(c) for c in CATEGORIES]
    addr_ids = [1_000_000_034 + i for i in range(sizes.addresses)]
    rows["Address"] = [
        [a, *rng.choice(CITIES), rng.randrange(10_000, 99_999)] for a in addr_ids
    ]
    partner_ids = [100_000_000 + i for i in range(sizes.partners)]
    rows["BusinessPartner"] = [
        [
            p,
            "" if i % 7 == 3 else f"sales{i}@partner{i}.com",
            rng.choice(addr_ids),
            "" if i % 11 == 5 else f"Partner Co {i}",
        ]
        for i, p in enumerate(partner_ids)
    ]
    prod_ids = []
    rows["Product"], rows["ProductDetail"] = [], []
    for i in range(sizes.products):
        cat = CATEGORIES[i % len(CATEGORIES)][0]
        pid = f"{cat}-{1001 + i}"
        prod_ids.append(pid)
        rows["Product"].append(
            [pid, cat, rng.choice(partner_ids), rng.randrange(100, 5000)]
        )
        rows["ProductDetail"].append([pid, f"{cat} model {1001 + i}"])
    rows["Store"] = [
        [
            s,
            "" if s % 9 == 4 else f"Manager {s}",
            rng.choice(addr_ids),
            f"({rng.randrange(200, 999)}) {rng.randrange(100, 999)}-"
            f"{rng.randrange(1000, 9999)}",
        ]
        for s in range(1, sizes.stores + 1)
    ]
    cust = []
    for c in range(1, sizes.customers + 1):
        first, last = rng.choice(FIRST), rng.choice(LAST)
        if rng.random() < 0.2:
            first = _junk(rng, first)
        if rng.random() < 0.2:
            last = _junk(rng, last)
        if c % 25 == 7:
            last = ""
        dob = dt.date(rng.randrange(1940, 2004), rng.randrange(1, 13),
                      rng.randrange(1, 29))
        extra = [rng.choice(INDUSTRY), rng.choice(WEALTH), "N"]
        cust.append([c, first, last, rng.choice(["Male", "Female"]),
                     _ddmmyyyy(dob), *extra])
        if c == DUPLICATE_CUSTOMER:
            cust.append([c, first, last, cust[-1][3], _ddmmyyyy(dob),
                         "Agriculture", "Affluent Customer", "Y"])
    rows["Customer"] = cust

    orders, items = [], []
    for o in range(sizes.orders):
        oid = ORDER_BASE + o
        d = start + dt.timedelta(days=rng.randrange(sizes.span_days))
        orders.append(_order(rng, oid, d, partner_ids, sizes))
        items.extend(_items(rng, oid, prod_ids))
    for _ in range(N_ORPHANS):  # reference no order: the inner join drops them
        items.append([0, rng.choice(prod_ids), ORDER_BASE + sizes.orders + 10**6,
                      rng.randrange(50, 5000), rng.randrange(1, 11)])
    rows["SalesOrder"] = orders
    rows["SalesOrderItems"] = _renumber(items)
    return Extract(rows, end.isoformat(), f"{end.isoformat()} 18:00:00")


def _order(rng, oid, d, partner_ids, sizes: Sizes) -> list:
    return [
        oid,
        rng.choice(partner_ids),
        rng.choice(["AMER", "EMEA", "APJ"]),
        rng.randrange(100, 20_000),
        rng.choice(["Online", "Offline"]),
        rng.randrange(1, sizes.stores + 1),
        _ddmmyyyy(d),
        "" if rng.random() < 0.1 else rng.randrange(1, 6),
        rng.randrange(1, sizes.customers + 1),
    ]


def _items(rng, oid, prod_ids) -> list[list]:
    return [
        [0, rng.choice(prod_ids), oid, rng.randrange(50, 5000), rng.randrange(1, 11)]
        for _ in range(rng.randrange(1, 11))
    ]


def _renumber(items: list[list]) -> list[list]:
    for i, row in enumerate(items, start=1):
        row[0] = i  # SalesOrderItemsID is dense 1..N
    return items


def generate(seed: int, day: int, sizes: Sizes) -> Extract:
    """The extract of ``day`` (1 or 2) for ``seed``."""
    ext = _base(seed, sizes)
    if day == 1:
        return ext
    if day != 2:
        raise ValueError(f"day must be 1 or 2, not {day}")
    rng = random.Random(seed * 1_000_003 + 2)
    rows = ext.rows
    for table in ("SalesOrder", "SalesOrderItems"):
        for row in rows[table]:
            if rng.random() < 0.01:
                row[3] += rng.randrange(1, 500)  # GROSSAMOUNT
    for row in rows["Customer"]:
        if row[0] % 10 == 3 and row[0] != DUPLICATE_CUSTOMER:
            row[2] = (row[2] or "Newname") + "x"  # SCD1 update
    for i, row in enumerate(rows["Product"]):
        if i % 5 == 0:
            row[3] += 10  # reprice: SCD2 expire + new current row
    day2 = DAY1_END + dt.timedelta(days=1)
    partner_ids = [r[0] for r in rows["BusinessPartner"]]
    prod_ids = [r[0] for r in rows["Product"]]
    n_new = max(1, sizes.orders // 100)
    new_items = []
    for o in range(n_new):
        oid = ORDER_BASE + sizes.orders + o
        rows["SalesOrder"].append(_order(rng, oid, day2, partner_ids, sizes))
        new_items.extend(_items(rng, oid, prod_ids))
    rows["SalesOrderItems"] = _renumber(rows["SalesOrderItems"] + new_items)
    return Extract(rows, day2.isoformat(), f"{day2.isoformat()} 18:00:00")


def write(ext: Extract, out_dir: str) -> None:
    """Write every file of ``ext`` as ``<stem>.csv``."""
    os.makedirs(out_dir, exist_ok=True)
    for stem, header in HEADERS.items():
        path = os.path.join(out_dir, f"{stem}.csv")
        lines = [header] + [",".join(str(v) for v in r) for r in ext.rows[stem]]
        with open(path, "w", encoding="utf-8", newline="") as f:
            if stem in BOM_FILES:
                f.write("\ufeff")
            f.write("\n".join(lines) + "\n")

