"""The seeded bikes extract generator: deterministic per seed, and the
reference extract's quirks are present.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import filecmp
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_bikes  # noqa: E402

SIZES = gen_bikes.Sizes(orders=300, customers=60, products=60, partners=40,
                        addresses=52, stores=20, span_days=40)
SOURCE_TABLES = ("Customer", "Address", "BusinessPartner", "ProductCategory",
                 "Product", "ProductDetail", "Store", "SalesOrder", "SalesOrderItems")


def _write(tmp_path, seed: int, day: int, name: str) -> str:
    out = str(tmp_path / name)
    gen_bikes.write(gen_bikes.generate(seed, day, SIZES), out)
    return out


def _rows(src: str, stem: str) -> list[dict]:
    with open(os.path.join(src, f"{stem}.csv"), encoding="utf-8-sig", newline="") as f:
        return list(csv.DictReader(f))


@pytest.fixture(scope="module")
def day1(tmp_path_factory):
    return _write(tmp_path_factory.mktemp("bikes"), 5, 1, "day1")


@pytest.fixture(scope="module")
def day2(tmp_path_factory):
    return _write(tmp_path_factory.mktemp("bikes"), 5, 2, "day2")


def test_writes_every_source_table(day1):
    assert tuple(gen_bikes.HEADERS) == SOURCE_TABLES
    try:
        from bikes_data_warehouse_etl_spark.schemas import SOURCE_SCHEMAS
    except ImportError:
        pytest.skip("package not importable")
    for stem, schema in SOURCE_SCHEMAS.items():
        with open(os.path.join(day1, f"{stem}.csv"), encoding="utf-8-sig") as f:
            assert f.readline().strip().split(",") == schema.fieldNames()


@pytest.mark.parametrize("day", [1, 2])
def test_same_seed_same_bytes(tmp_path, day):
    a = _write(tmp_path, 11, day, "a")
    b = _write(tmp_path, 11, day, "b")
    match, mismatch, errors = filecmp.cmpfiles(a, b, [f"{t}.csv" for t in SOURCE_TABLES],
                                               shallow=False)
    assert not mismatch and not errors and len(match) == len(SOURCE_TABLES)


def test_other_seed_other_data(tmp_path):
    a = _write(tmp_path, 11, 1, "a")
    b = _write(tmp_path, 12, 1, "b")
    assert not filecmp.cmp(os.path.join(a, "SalesOrder.csv"),
                           os.path.join(b, "SalesOrder.csv"), shallow=False)


def test_junk_characters_in_names(day1):
    names = [r["first_name"] + r["last_name"] for r in _rows(day1, "Customer")]
    for junk in gen_bikes.JUNK:
        assert any(junk in n for n in names), junk
    assert any("-" in n for n in names)


def test_bom_on_address_and_store_only(day1):
    for stem in SOURCE_TABLES:
        with open(os.path.join(day1, f"{stem}.csv"), "rb") as f:
            has_bom = f.read(3) == b"\xef\xbb\xbf"
        assert has_bom == (stem in ("Address", "Store")), stem


def test_duplicate_visible_only_after_projection(day1):
    rows = _rows(day1, "Customer")
    dup = [r for r in rows if r["customer_id"] == str(gen_bikes.DUPLICATE_CUSTOMER)]
    assert len(dup) == 2
    kept = ("customer_id", "first_name", "last_name", "gender", "DOB")
    assert {tuple(r[c] for c in kept) for r in dup} == {tuple(dup[0][c] for c in kept)}
    assert dup[0] != dup[1]
    ids = [r["customer_id"] for r in rows]
    assert len(ids) - len(set(ids)) == 1


def test_orphan_order_items(day1):
    orders = {r["SalesOrderID"] for r in _rows(day1, "SalesOrder")}
    orphans = [r for r in _rows(day1, "SalesOrderItems") if r["SalesOrderID"] not in orders]
    assert len(orphans) == gen_bikes.N_ORPHANS


def test_day_first_dates(day1):
    dates = [r["Date"] for r in _rows(day1, "SalesOrder")]
    dates += [r["DOB"] for r in _rows(day1, "Customer")]
    assert all(re.fullmatch(r"\d\d-\d\d-\d{4}", d) for d in dates)
    days = [int(d[:2]) for d in dates]
    assert any(d > 12 for d in days)  # unambiguous: only day-first parses
    assert any(d <= 12 for d in days)  # ambiguous with month-first


def test_fact_dates_span(day1):
    dates = {r["Date"] for r in _rows(day1, "SalesOrder")}
    assert len(dates) > SIZES.span_days * 0.9
    assert len(dates) <= SIZES.span_days


def test_day2_changes(day1, day2):
    o1 = {r["SalesOrderID"]: r for r in _rows(day1, "SalesOrder")}
    o2 = {r["SalesOrderID"]: r for r in _rows(day2, "SalesOrder")}
    new = set(o2) - set(o1)
    assert new and set(o1) <= set(o2)
    new_dates = {o2[k]["Date"] for k in new}
    assert new_dates == {(gen_bikes.DAY1_END + gen_bikes.dt.timedelta(days=1)).strftime("%d-%m-%Y")}
    p1 = {r["PRODUCTID"]: r["PRICE"] for r in _rows(day1, "Product")}
    p2 = {r["PRODUCTID"]: r["PRICE"] for r in _rows(day2, "Product")}
    repriced = [k for k in p1 if p1[k] != p2[k]]
    assert len(repriced) == len(p1) // 5
    c1 = {r["customer_id"]: r["last_name"] for r in _rows(day1, "Customer")}
    c2 = {r["customer_id"]: r["last_name"] for r in _rows(day2, "Customer")}
    assert any(c1[k] != c2[k] for k in c1)
