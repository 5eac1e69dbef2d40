"""Schemas and must-cover cases of the benchmark's raw-tree generator
(FIXTURES.md section 1), plus the expectation arithmetic it feeds.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import datetime as dt
import filecmp
import json
import os
import sys
from collections import Counter
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import rawgen  # noqa: E402

DAYS, ORDERS = 8, 150


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("raw"))
    t, gen = rawgen.write_tree(root, seed=3, days=DAYS, orders_per_file=ORDERS)
    return t


def _files(tree, cc):
    return sorted(p for p in tree.files if f"source={cc}" in p)


def test_layout_is_hive_partitioned(tree):
    for cc, fmt, ext in (("IN", "csv", ".csv"), ("US", "parquet", ".snappy.parquet"),
                         ("FR", "json", ".json")):
        files = _files(tree, cc)
        assert len(files) == DAYS
        for path in files:
            rel = os.path.relpath(path, tree.root).split(os.sep)
            assert rel[:3] == ["sales", f"source={cc}", f"format={fmt}"]
            day = rel[3].removeprefix("date=")
            assert rel[4] == f"order-{day.replace('-', '')}{ext}"


def test_in_csv_headers_and_multiline_quoted_addresses(tree):
    path = _files(tree, "IN")[0]
    with open(path, newline="", encoding="utf-8") as fh:
        rows = list(csv.reader(fh))
    assert rows[0] == ["Order ID", "Customer Name", "Mobile Model", "Quantity", "Price per Unit",
                       "Total Price", "Promotion Code", "Order Amount", "GST", "Order Date",
                       "Payment Status", "Shipping Status", "Payment Method", "Payment Provider",
                       "Mobile", "Delivery Address"]
    assert len(rows) == ORDERS + 1
    assert all("\n" in r[-1] for r in rows[1:])
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    assert text.count("\n") > ORDERS + 1  # physical lines outnumber records
    assert '"' in text
    assert any(r[6] == "" for r in rows[1:])  # empty promo code


def test_us_parquet_schema_is_snappy_with_string_dates(tree):
    path = _files(tree, "US")[0]
    schema = pq.read_schema(path)
    assert [(f.name, f.type) for f in schema] == [
        ("Order ID", pa.string()), ("Customer Name", pa.string()),
        ("Mobile Model", pa.string()), ("Quantity", pa.int64()),
        ("Price per Unit", pa.int64()), ("Total Price", pa.int64()),
        ("Promotion Code", pa.string()), ("Order Amount", pa.float64()),
        ("Tax", pa.float64()), ("Order Date", pa.string()), ("Payment Status", pa.string()),
        ("Shipping Status", pa.string()), ("Payment Method", pa.string()),
        ("Payment Provider", pa.string()), ("Phone", pa.string()),
        ("Delivery Address", pa.string())]
    meta = pq.ParquetFile(path).metadata
    assert meta.row_group(0).column(0).compression == "SNAPPY"
    assert pq.read_table(path).column("Promotion Code").null_count > 0


def test_fr_json_array_quirks(tree):
    docs = []
    for path in _files(tree, "FR"):
        with open(path, encoding="utf-8") as fh:
            raw = fh.read()
        assert raw.lstrip().startswith("[")  # one top-level array per file
        docs.extend(json.loads(raw))
    assert all(isinstance(d["Price per Unit"], str) for d in docs)
    assert all(isinstance(d["Tax"], float) for d in docs)
    # float artifacts: some taxes print with more than two decimals
    assert any(len(repr(d["Tax"]).split(".")[1]) > 2 for d in docs)
    assert any(d["Promotion Code"] is None for d in docs)
    assert any(not d["Customer Name"].isascii() for d in docs)
    assert any("\n" in d["Delivery Address"] for d in docs)


def test_must_cover_value_mixes(tree):
    orders = tree.orders()
    segments = {o.mobile_model.count("/") + 1 for o in orders}
    assert {5, 6, 7} <= segments
    assert {o.payment_status for o in orders} == {"Paid", "Pending"}
    assert {o.shipping_status for o in orders} == {"Delivered", "Transit", "Returned"}
    assert {o.promo for o in orders} == set(rawgen.PROMOS)
    days = {o.order_date for o in orders}
    assert any(d in tree.forex for d in days)
    assert any(d not in tree.forex for d in days)


def test_segment_shares_follow_the_measured_counts(tmp_path):
    # three files of one cycle each: exactly three cycles of keys
    t, _ = rawgen.write_tree(str(tmp_path), seed=1, days=1, orders_per_file=rawgen.SEGMENT_CYCLE)
    counts = Counter(o.mobile_model.count("/") + 1 for o in t.orders())
    assert counts == {5: 3 * 1913, 6: 3 * 17, 7: 3}


def test_customer_names_are_unique_but_for_namesakes():
    gen = rawgen.RawGenerator(1, rawgen.FOREX_FIRST)
    for customers in gen.customers.values():
        names = [c[0] for c in customers]
        assert len(names) - len(set(names)) == round(len(names) * rawgen.NAMESAKE_SHARE)
        assert len({c[1] for c in customers}) == len(customers)


def test_forex_csv_is_120_descending_rows(tree):
    with open(os.path.join(tree.root, "exchange-rate-data.csv")) as fh:
        rows = list(csv.reader(fh))
    assert rows[0] == rawgen.FOREX_COLUMNS
    dates = [dt.date.fromisoformat(r[0]) for r in rows[1:]]
    assert len(dates) == 120
    assert dates == sorted(dates, reverse=True)
    assert dates[-1] == dt.date(2020, 1, 1)
    assert len(set(dates)) == 120
    assert all(r[1] == "1" for r in rows[1:])


def test_same_seed_same_bytes(tree, tmp_path):
    again, _ = rawgen.write_tree(str(tmp_path / "again"), seed=3, days=DAYS, orders_per_file=ORDERS)
    for path in tree.files:
        twin = os.path.join(again.root, os.path.relpath(path, tree.root))
        assert filecmp.cmp(path, twin, shallow=False), path
        assert os.path.getmtime(path) == os.path.getmtime(twin)
    other, _ = rawgen.write_tree(str(tmp_path / "other"), seed=4, days=DAYS, orders_per_file=ORDERS)
    assert [o.order_id for o in other.orders()] != [o.order_id for o in tree.orders()]


def test_duckdb_reads_every_generated_row(tree):
    """An independent reader sees exactly the logical rows in all formats."""
    root = tree.root
    con = duckdb.connect()
    count = lambda sql: con.execute(f"SELECT count(*) FROM {sql}").fetchone()[0]
    assert count(f"read_csv('{root}/sales/source=IN/format=csv/date=*/*.csv', "
                 "header=true, all_varchar=true)") == DAYS * ORDERS
    assert count(f"read_parquet('{root}/sales/source=US/format=parquet/date=*/*.parquet')") \
        == DAYS * ORDERS
    assert count(f"read_json('{root}/sales/source=FR/format=json/date=*/*.json', "
                 "format='array')") == DAYS * ORDERS


def test_arrival_and_redelivery(tmp_path):
    t, gen = rawgen.write_tree(str(tmp_path), seed=5, days=3, orders_per_file=20)
    day = gen.first_day + dt.timedelta(days=3)
    paths = rawgen.write_arrival(t, gen, day, 20)
    assert len(paths) == 3 and all(f"date={day.isoformat()}" in p for p in paths)
    old = rawgen._file_path(t.root, "FR", gen.first_day)
    new = rawgen.write_redelivery(t, "FR", gen.first_day)
    assert new != old and t.files[new] == t.files[old]
    assert os.path.getmtime(new) > os.path.getmtime(old)


def test_namesake_arrival_shares_a_loaded_customers_name(tmp_path):
    t, gen = rawgen.write_tree(str(tmp_path), seed=5, days=3, orders_per_file=20)
    earlier = t.orders()
    paths = rawgen.write_arrival(t, gen, gen.first_day + dt.timedelta(days=3), 20, namesake=True)
    for path in paths:
        first = t.files[path][0]
        assert len(t.files[path]) == 20
        assert (first.payment_status, first.shipping_status) == ("Paid", "Delivered")
        assert any(o.customer_name == first.customer_name and o.contact != first.contact
                   and o.country == first.country and rawgen._kept(o) for o in earlier)


def test_us_total_uses_spark_decimal_rounding():
    day = rawgen.FOREX_FIRST
    order = rawgen.Order("FR", "X", "n", "a/b/c/d/e", 1, 100, None, Decimal("100.00"), day,
                         "Paid", "Delivered", "UPI", "Paytm", "1", "addr")
    forex = {day: {"usd2eu": Decimal("1.0910"), "usd2can": Decimal("1.3551"),
                   "usd2inr": Decimal("82.2064"), "usd2usd": Decimal(1)}}
    # 100 / 1.0910 = 91.659028414298808...; HALF_UP at 8 places
    assert rawgen.us_total(order, forex, faithful=True) == Decimal("91.65902841")
    assert rawgen.us_total(order, {}, faithful=True) is None


def test_expectations_fan_out_same_name_customers(tree):
    exp = rawgen.star_expectations(tree, faithful=True)
    curated = sum(exp["curated_rows"].values())
    assert exp["region_dim"] == 3
    assert curated <= exp["fact_rows"] < 1.1 * curated  # namesakes are rare
    assert exp["date_dim"] == DAYS
