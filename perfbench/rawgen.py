"""Seeded generator for the paper's raw sales tree.

Writes the Hive-partitioned layout the pipeline reads
(``sales/source={IN,US,FR}/format={csv,parquet,json}/date=YYYY-MM-DD/``)
plus ``exchange-rate-data.csv``, following the schemas and value domains
in FIXTURES.md section 1. All three formats are rendered from ONE logical
row set, so every expectation the benchmark checks can be derived from
the rows in Python, without Spark:

- IN: CSV with the ``GST``/``Mobile`` headers and quoted addresses that
  contain newlines;
- US: snappy Parquet with a string ``Order Date`` and ``Tax``/``Phone``;
- FR: one top-level JSON array per file, ``Price per Unit`` as a string,
  ``Tax`` a float with representation artifacts, ``null`` promo codes;
- mobile keys with 5, 6 and 7 ``/``-segments, in the measured shares;
- customer names that identify customers, except for a small share of
  namesakes (an assumption; see ``NAMESAKE_SHARE``);
- Paid/Pending and Delivered/Transit/Returned mixes;
- order dates both inside and outside the 120-row descending forex CSV
  (120 days from 2020-01-01): the first days of every tree precede it.

Importing this module writes nothing; ``write_tree`` and
``write_arrival`` do, under the directory they are given.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal, localcontext

import pyarrow as pa
import pyarrow.parquet as pq

FOREX_FIRST = dt.date(2020, 1, 1)
FOREX_DAYS = 120
FOREX_COLUMNS = ["date", "usd2usd", "usd2eu", "usd2can", "usd2uk", "usd2inr", "usd2jp"]
# base rate per forex column after usd2usd; each day jitters it by up to 2%
_FOREX_BASE = {
    "usd2eu": 1.0910,
    "usd2can": 1.3551,
    "usd2uk": 0.8085,
    "usd2inr": 82.2064,
    "usd2jp": 133.1770,
}

# country -> (region, format, tax field, contact field, unit-price range)
COUNTRY = {
    "IN": ("APAC", "csv", "GST", "Mobile", (8000, 150000)),
    "US": ("AMER", "parquet", "Tax", "Phone", (100, 1500)),
    "FR": ("EU", "json", "Tax", "Phone", (100, 1400)),
}
TAX_RATE = {"IN": Decimal("0.18"), "US": Decimal("0.07"), "FR": Decimal("0.2")}
PROMOS = ["BIRTHDAYGIFT", "NEWYEAR15", "REFERRAL10", None]
DISCOUNT = {
    "BIRTHDAYGIFT": Decimal("0.10"),
    "NEWYEAR15": Decimal("0.15"),
    "REFERRAL10": Decimal("0.10"),
    None: Decimal(0),
}
PAYMENTS = {
    "Net Banking": ["HDBC", "ICICI", "SBI", "Axis Bank"],
    "Credit Card": ["Visa", "Mastercard", "Amex"],
    "UPI": ["BHIM UPI", "Google Pay", "PhonePe"],
    "Digital Wallets": ["Paytm", "Amazon Pay", "Mobikwik", "Freecharge"],
    "Debit Card": ["RuPay", "Maestro", "Visa Debit", "Mastercard Debit", "Discover"],
}
FIRST = {
    "IN": ("Aarav Vivaan Aditya Diya Ananya Ishaan Kavya Rohan Priya Arjun Meera Sanjay Vihaan "
           "Saanvi Anika Kabir Neha Rahul Pooja Vikram Sneha Karthik Lakshmi Aryan Tanvi").split(),
    "US": ("James Mary Robert Linda Michael Susan David Karen Emily Daniel Laura Kevin Jennifer "
           "William Jessica Thomas Sarah Christopher Ashley Matthew Amanda Joshua Megan Andrew "
           "Rachel").split(),
    "FR": ("Stéphane-René Hélène François Chloé Jérôme Amélie Élodie Mathis Zoé Loïc Inès Gaël "
           "Léa Théo Camille Noé Manon Raphaël Margaux Benoît Océane Clément Anaïs Hugo "
           "Maëlle").split(),
}
LAST = {
    "IN": ("Sharma Verma Iyer Nair Reddy Gupta Patel Rao Mehta Bose Das Kapoor Joshi Kulkarni "
           "Menon Pillai Chatterjee Banerjee Singh Malhotra Agarwal Desai Shetty Naidu "
           "Saxena").split(),
    "US": ("Smith Johnson Brown Garcia Miller Davis Wilson Moore Taylor Clark Lewis Young "
           "Anderson Thomas Jackson White Harris Martin Thompson Martinez Robinson Walker Allen "
           "King Wright").split(),
    "FR": ("Roy Lefèvre Dubois Moreau Laurent Girard Bonnet Durand Lambert Fontaine Rousseau "
           "Mercier Martin Bernard Petit Richard Leroy Garnier Faure André Blanc Guérin Muller "
           "Henry Chevalier").split(),
}
#: Share of customers who carry another customer's name (different contact
#: and address). FIXTURES.md records no name-reuse rate, so this is an
#: assumption: names identify customers, except for this share. It keeps
#: the fact's same-name fan-out (customer_dim joins on name, region and
#: country) present but small.
NAMESAKE_SHARE = 0.01
#: Mobile-key segment counts per 1,931 orders, as measured in FIXTURES.md
#: (5:1913, 6:17, 7:1). Orders take them in a fixed cycle, so every tree of
#: at least one order has a 7-segment key and every tree of at least 58
#: orders a 6-segment one.
SEGMENT_CYCLE = 1931
_SIX_EVERY = SEGMENT_CYCLE // 17  # 113: 17 six-segment positions per cycle
CITIES = {
    "IN": ["Mumbai, MH", "Pune, MH", "Chennai, TN", "Bengaluru, KA", "Kolkata, WB"],
    "US": ["Austin, TX", "Denver, CO", "Boston, MA", "Seattle, WA", "Miami, FL"],
    "FR": ["Paris", "Lyon", "Marseille", "Nantes", "Lille"],
}
BRANDS = {
    "Apple": ["iPhone 11", "iPhone 12", "iPhone 13"],
    "Samsung": ["Galaxy S21", "Galaxy A52", "Galaxy M31"],
    "OnePlus": ["Nord 2", "9 Pro", "8T"],
    "Xiaomi": ["Redmi Note 10", "Mi 11X", "Poco X3"],
    "Vivo": ["V21", "Y33s", "X60"],
}
COLORS = ["Black", "White", "Blue", "Green", "Red"]
MEMORY = ["4GB", "6GB", "8GB", "12GB"]
STORAGE = ["64GB", "128GB", "256GB"]
_ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


@dataclass(frozen=True)
class Order:
    """One logical order row, format-independent."""

    country: str
    order_id: str
    customer_name: str
    mobile_model: str
    quantity: int
    unit_price: int
    promo: str | None
    order_amount: Decimal  # 2 dp, post-discount
    order_date: dt.date
    payment_status: str
    shipping_status: str
    payment_method: str
    payment_provider: str
    contact: str
    address: str

    @property
    def total_price(self) -> int:
        return self.quantity * self.unit_price

    @property
    def tax(self) -> Decimal:
        """Exact 2-dp tax (IN/US store it; FR stores a float of it)."""
        return _q2(self.order_amount * TAX_RATE[self.country])


@dataclass
class SalesTree:
    """The logical contents of a generated tree: rows per delivered file."""

    root: str
    files: dict[str, list[Order]] = field(default_factory=dict)  # path -> rows
    forex: dict[dt.date, dict[str, Decimal]] = field(default_factory=dict)

    @property
    def raw_bytes(self) -> int:
        paths = list(self.files) + [os.path.join(self.root, "exchange-rate-data.csv")]
        return sum(os.path.getsize(p) for p in paths)

    def orders(self) -> list[Order]:
        return [o for rows in self.files.values() for o in rows]


def _q2(x: Decimal) -> Decimal:
    return x.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


class RawGenerator:
    """Deterministic row factory: the same seed yields the same tree."""

    def __init__(self, seed: int, first_day: dt.date, customers_per_country: int = 600):
        self.rng = random.Random(seed)
        self.first_day = first_day
        self._seq = 0
        self.products = self._products()
        self.customers = {cc: self._customers(cc, customers_per_country) for cc in COUNTRY}

    def _products(self) -> dict[int, list[str]]:
        """Mobile keys by segment count."""
        keys = []
        for brand, models in BRANDS.items():
            for model in models:
                for color in COLORS[:3]:
                    keys.append(f"{brand}/{model}/{self.rng.choice(COLORS[3:] + [color])}/"
                                f"{self.rng.choice(MEMORY)}/{self.rng.choice(STORAGE)}")
        return {5: keys, 6: [keys[0] + "/5G", keys[1] + "/5G"], 7: [keys[2] + "/5G/Dual SIM"]}

    def _segments(self) -> int:
        """Segment count of the current order's key, from the measured cycle."""
        pos = (self._seq - 1) % SEGMENT_CYCLE
        if pos == 0:
            return 7
        return 6 if pos % _SIX_EVERY == _SIX_EVERY // 2 and pos < 17 * _SIX_EVERY else 5

    def _customers(self, cc: str, n: int) -> list[tuple[str, str, str]]:
        names = self.rng.sample([f"{f} {l}" for f in FIRST[cc] for l in LAST[cc]], n)
        for i in range(n - round(n * NAMESAKE_SHARE), n):
            names[i] = names[self.rng.randrange(i)]
        return [(name, *self._contact(cc)) for name in names]

    def _contact(self, cc: str) -> tuple[str, str]:
        contact = str(self.rng.randrange(6_000_000_000, 9_999_999_999))
        addr = (f"{self.rng.randrange(1, 999)} {self.rng.choice(LAST[cc])} Street\n"
                f"{self.rng.choice(CITIES[cc])}, {self.rng.randrange(10000, 99999)}")
        return contact, addr

    def _order_id(self, day: dt.date) -> str:
        self._seq += 1
        prefix = "".join(self.rng.choice(_ALNUM) for _ in range(10))
        epoch = int(dt.datetime(day.year, day.month, day.day).timestamp()) + self._seq
        return f"{prefix}{epoch}"

    def order(self, cc: str, day: dt.date, customer: tuple[str, str, str] | None = None,
              kept: bool = False) -> Order:
        """One order of ``cc`` on ``day``; ``customer`` overrides the drawn
        one, and ``kept`` makes it Paid and Delivered, so it reaches the star."""
        rng = self.rng
        lo, hi = COUNTRY[cc][4]
        qty = rng.randint(1, 5)
        unit = rng.randint(lo, hi)
        promo = rng.choice(PROMOS)
        amount = _q2(Decimal(qty * unit) * (1 - DISCOUNT[promo]))
        method = rng.choice(list(PAYMENTS))
        name, contact, addr = rng.choice(self.customers[cc])
        if customer is not None:
            name, contact, addr = customer
        order_id = self._order_id(day)
        return Order(
            country=cc,
            order_id=order_id,
            customer_name=name,
            mobile_model=rng.choice(self.products[self._segments()]),
            quantity=qty,
            unit_price=unit,
            promo=promo,
            order_amount=amount,
            order_date=day,
            payment_status="Paid" if kept else rng.choice(["Paid", "Pending"]),
            shipping_status="Delivered" if kept else rng.choice(["Delivered", "Transit", "Returned"]),
            payment_method=method,
            payment_provider=rng.choice(PAYMENTS[method]),
            contact=contact,
            address=addr,
        )

    def forex(self) -> dict[dt.date, dict[str, Decimal]]:
        rows = {}
        for i in range(FOREX_DAYS):
            day = FOREX_FIRST + dt.timedelta(days=i)
            rates = {"usd2usd": Decimal(1)}
            for col, base in _FOREX_BASE.items():
                rates[col] = Decimal(f"{base * (1 + self.rng.uniform(-0.02, 0.02)):.4f}")
            rows[day] = rates
        return rows


def _file_path(root: str, cc: str, day: dt.date, suffix: str = "") -> str:
    fmt = COUNTRY[cc][1]
    ext = {"csv": "csv", "parquet": "snappy.parquet", "json": "json"}[fmt]
    stamp = day.strftime("%Y%m%d")
    return os.path.join(
        root, "sales", f"source={cc}", f"format={fmt}", f"date={day.isoformat()}",
        f"order-{stamp}{suffix}.{ext}",
    )


def _write_file(path: str, cc: str, rows: list[Order], mtime: float) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tax_field, contact_field = COUNTRY[cc][2], COUNTRY[cc][3]
    header = ["Order ID", "Customer Name", "Mobile Model", "Quantity", "Price per Unit",
              "Total Price", "Promotion Code", "Order Amount", tax_field, "Order Date",
              "Payment Status", "Shipping Status", "Payment Method", "Payment Provider",
              contact_field, "Delivery Address"]

    def payload(o: Order) -> list:
        return [o.order_id, o.customer_name, o.mobile_model, o.quantity, o.unit_price,
                o.total_price, o.promo, o.order_amount, o.tax, o.order_date.isoformat(),
                o.payment_status, o.shipping_status, o.payment_method, o.payment_provider,
                o.contact, o.address]

    if cc == "IN":
        with open(path, "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL)
            w.writerow(header)
            for o in rows:
                w.writerow(["" if v is None else str(v) for v in payload(o)])
    elif cc == "US":
        cols = list(zip(*[payload(o) for o in rows]))
        types = [pa.string(), pa.string(), pa.string(), pa.int64(), pa.int64(), pa.int64(),
                 pa.string(), pa.float64(), pa.float64(), pa.string(), pa.string(),
                 pa.string(), pa.string(), pa.string(), pa.string(), pa.string()]
        arrays = []
        for name, values, typ in zip(header, cols, types):
            if typ == pa.float64():
                values = [float(v) for v in values]
            arrays.append(pa.array(values, type=typ))
        pq.write_table(pa.Table.from_arrays(arrays, names=header), path, compression="snappy")
    else:
        docs = []
        for o in rows:
            d = dict(zip(header, payload(o)))
            d["Price per Unit"] = str(o.unit_price)  # string-typed numeric
            d["Order Amount"] = float(o.order_amount)
            d["Tax"] = float(o.order_amount) * float(TAX_RATE["FR"])  # float artifacts
            docs.append(d)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(docs, fh, ensure_ascii=False, indent=1)
    os.utime(path, (mtime, mtime))


def _mtime(day: dt.date, offset: int = 0) -> float:
    return dt.datetime(day.year, day.month, day.day, 12).timestamp() + offset


def write_forex(root: str, forex: dict[dt.date, dict[str, Decimal]]) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "exchange-rate-data.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(FOREX_COLUMNS)
        for day in sorted(forex, reverse=True):  # descending, as in the sample
            w.writerow([day.isoformat()] + [str(forex[day][c]) for c in FOREX_COLUMNS[1:]])


def days_before_forex(days: int) -> int:
    """How many of ``days`` leading tree days precede the forex range."""
    return max(1, days // 4)


def write_tree(root: str, seed: int, days: int, orders_per_file: int) -> tuple[SalesTree, RawGenerator]:
    """Write ``days`` consecutive date partitions per country, each one
    file of ``orders_per_file`` orders, plus the forex CSV. The tree's
    first ``days_before_forex(days)`` days precede the forex range."""
    first = FOREX_FIRST - dt.timedelta(days=days_before_forex(days))
    gen = RawGenerator(seed, first)
    tree = SalesTree(root=root, forex=gen.forex())
    write_forex(root, tree.forex)
    for i in range(days):
        write_arrival(tree, gen, first + dt.timedelta(days=i), orders_per_file)
    return tree, gen


def write_arrival(tree: SalesTree, gen: RawGenerator, day: dt.date, orders_per_file: int,
                  namesake: bool = False) -> list[str]:
    """Deliver one day: one new file per country. Returns the paths.

    With ``namesake``, each file's first order is a kept order by a new
    customer who has the name of a customer whose kept orders are already
    in the tree: the case where the fact's same-name fan-out reaches back
    into rows loaded earlier."""
    paths = []
    for cc in COUNTRY:
        rows = []
        if namesake:
            earlier = next(o for o in tree.orders() if o.country == cc and _kept(o))
            rows.append(gen.order(cc, day, (earlier.customer_name, *gen._contact(cc)), kept=True))
        rows += [gen.order(cc, day) for _ in range(orders_per_file - len(rows))]
        path = _file_path(tree.root, cc, day)
        _write_file(path, cc, rows, _mtime(day))
        tree.files[path] = rows
        paths.append(path)
    return paths


def write_redelivery(tree: SalesTree, cc: str, day: dt.date) -> str:
    """Re-deliver an already-loaded file of ``cc`` under a new path (same
    rows, newer mtime) — the ledger sees a new file, the orders are not."""
    original = _file_path(tree.root, cc, day)
    rows = tree.files[original]
    path = _file_path(tree.root, cc, day, suffix="-redelivery")
    _write_file(path, cc, rows, _mtime(day, offset=86_400 * 365))
    tree.files[path] = rows
    return path


# ---------------------------------------------------------------------------
# Expectations derived from the rows (no Spark, no DuckDB)
# ---------------------------------------------------------------------------

_RATE_COLUMN = {
    # faithful profile: the reference's loader reads usd2inr from the CAD
    # column ($4 reuse bug, FIXTURES.md 1.4); corrected reads usd2inr.
    True: {"IN": "usd2can", "US": "usd2usd", "FR": "usd2eu"},
    False: {"IN": "usd2inr", "US": "usd2usd", "FR": "usd2eu"},
}


def us_total(o: Order, forex: dict[dt.date, dict[str, Decimal]], faithful: bool) -> Decimal | None:
    """``order_amount / rate`` with Spark's decimal semantics:
    decimal(10,2)/decimal(15,7) -> decimal(33,18) HALF_UP, then cast to
    decimal(23,8) HALF_UP. None when the date has no forex row."""
    rates = forex.get(o.order_date)
    if rates is None:
        return None
    with localcontext() as ctx:
        ctx.prec = 80
        q = (o.order_amount / rates[_RATE_COLUMN[faithful][o.country]]).quantize(
            Decimal(1).scaleb(-18), rounding=ROUND_HALF_UP)
        return q.quantize(Decimal(1).scaleb(-8), rounding=ROUND_HALF_UP)


def _kept(o: Order) -> bool:
    """Curated keeps Paid and Delivered orders only."""
    return o.payment_status == "Paid" and o.shipping_status == "Delivered"


def star_expectations(tree: SalesTree, faithful: bool = True) -> dict[str, object]:
    """Per-layer row counts, dimension cardinalities, fact count and the
    fact's ``us_total_order_amt`` sum for a one-shot load of ``tree``.

    Assumes each order id is delivered in one file. The corrected
    profile's per-order dedup also collapses identical re-deliveries; the
    faithful profile's per-date dedup would not, so trees loaded with it
    carry none."""
    source = {cc.lower(): 0 for cc in COUNTRY}
    curated: dict[str, Order] = {}
    for rows in tree.files.values():
        for o in rows:
            source[o.country.lower()] += 1
            if _kept(o):
                curated[o.order_id] = o
    kept = list(curated.values())
    region = lambda cc: COUNTRY[cc][0]
    customers = {(o.customer_name, o.contact, o.address, o.country) for o in kept}
    fanout: dict[tuple[str, str], int] = {}
    for name, _, _, cc in customers:
        fanout[(name, cc)] = fanout.get((name, cc), 0) + 1
    fact_rows = 0
    fact_sum = Decimal(0)
    for o in kept:
        n = fanout[(o.customer_name, o.country)]
        fact_rows += n
        usd = us_total(o, tree.forex, faithful)
        if usd is not None:
            fact_sum += usd * n
    days = [o.order_date for o in kept]
    return {
        "source_rows": source,
        "curated_rows": {cc.lower(): sum(1 for o in kept if o.country == cc) for cc in COUNTRY},
        "region_dim": len({o.country for o in kept}),
        "product_dim": len({o.mobile_model for o in kept}),
        "promo_code_dim": len({(o.promo or "NA", o.country, region(o.country)) for o in kept}),
        "customer_dim": len(customers),
        "payment_dim": len({(o.payment_method, o.payment_provider, o.country) for o in kept}),
        "date_dim": (max(days) - min(days)).days + 1 if days else 0,
        "fact_rows": fact_rows,
        "fact_us_total": fact_sum,
    }
