"""The benchmark's workloads: closed loop, one client, one driver process.

Each workload generates its inputs from the seed (``prepare``, untimed),
optionally warms up (``warm_up``, untimed), runs whole passes of its
operations — at least its minimum number of passes, and more until
``seconds`` have elapsed — (``run``), then checks the outputs untimed
(``verify``). An operation that raises or whose output is wrong counts as
failed.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import statistics
import time
from collections import Counter
from contextlib import nullcontext
from decimal import Decimal

import corpus
import rawgen

NAMESPACES = ("source", "curated", "consumption", "common", "audit")

STAR_QUERIES = (
    "star_join_enriched", "q1_pricing_summary", "q3_shipping_priority", "q5_region_volume",
    "q6_forecast_revenue", "q7_nation_volume", "q8_market_share", "q9_product_profit",
    "q10_returned_by_customer", "q12_late_shipment_priority", "q14_promo_effect",
    "q18_large_orders", "window_rank_dedup", "full_outer_daily_totals",
)
ITERATIVE_QUERIES = (
    "dedup_connected_components", "graph_label_propagation", "graph_bfs_layers",
    "graph_sssp_weighted", "graph_kcore_peel", "pagerank_copurchase", "kmeans_two_rounds",
    "sample_kcenter_coreset",
)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Workload:
    """Shared bookkeeping: timed operations, failures, spans."""

    def __init__(self, spark, work: str, rng, seed: int):
        self.spark = spark
        self.work = work
        self.rng = rng
        self.seed = seed
        self.tracer = None
        self.ops: list[dict] = []  # {"name", "s", "units", "ok"}
        self.failures: list[str] = []
        self.extra: dict = {}

    def warm_up(self) -> None:
        """Untimed work before the measured loop; none by default."""

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def timed(self, name: str, span: str, fn, units: float = 1.0):
        """Run one operation; a raised error marks it failed."""
        start = time.time()
        try:
            with self.span(span):
                value = fn()
            ok = True
        except Exception as exc:  # the loop keeps going; the failure is counted
            value, ok = None, False
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
        self.ops.append({"name": name, "s": time.time() - start, "units": units, "ok": ok})
        return value

    def fail(self, op_index: int, reason: str) -> None:
        self.ops[op_index]["ok"] = False
        self.failures.append(reason[:500])

    def fail_all(self, reason: str) -> None:
        for o in self.ops:
            o["ok"] = False
        self.failures.append(reason[:500])

    def latencies(self) -> list[float]:
        return [o["s"] for o in self.ops]

    def throughput_ops(self) -> list[dict]:
        """The operations whose units over wall make the throughput."""
        return self.ops

    def report(self) -> dict:
        counted = self.throughput_ops()
        return {
            "attempted": len(self.ops),
            "failed": sum(1 for o in self.ops if not o["ok"]),
            "failures": self.failures[:20],
            "ops": self.ops,
            "latencies": self.latencies(),
            "throughput_per_s": sum(o["units"] for o in counted) / sum(o["s"] for o in counted),
            "throughput_n": len(counted),
            **self.extra,
        }


# ---------------------------------------------------------------------------
# ELT: raw files -> source -> curated -> star
# ---------------------------------------------------------------------------


class _Elt(Workload):
    days = 5
    orders_per_file = 1000

    def _reset_warehouse(self) -> None:
        for ns in NAMESPACES:
            self.spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
        shutil.rmtree(os.path.join(self.work, "warehouse"), ignore_errors=True)

    def _new_tree(self, n: int):
        root = os.path.join(self.work, f"raw-{n}")
        shutil.rmtree(root, ignore_errors=True)
        return rawgen.write_tree(root, self.seed + n, self.days, self.orders_per_file)

    def _run_pipeline(self, root: str, **kw):
        from amazon_sales_data_engineering_spark.pipeline.run import run_pipeline

        return run_pipeline(self.spark, root, **kw)

    def _storage(self, tree) -> None:
        self.extra["raw_mb"] = tree.raw_bytes / 1048576.0
        self.extra["warehouse_mb"] = _dir_bytes(os.path.join(self.work, "warehouse")) / 1048576.0
        self.extra["stored_per_raw_byte"] = self.extra["warehouse_mb"] / self.extra["raw_mb"]

    def _table_dir(self, table: str) -> str:
        ns, name = table.split(".")
        return os.path.join(self.work, "warehouse", f"{ns}.db", name)


class EltBulk(_Elt):
    """A fresh warehouse plus a generated raw tree, loaded one-shot with
    the faithful profile. One operation = one whole raw->star load. A run
    makes at least three loads back to back in its fresh process; the
    first also pays class loading and code generation, as a batch job
    does, so the median is a warm load and the throughput counts both."""

    min_loads = 3

    def prepare(self) -> None:
        self.tree, _ = self._new_tree(0)
        self.orders = len(self.tree.orders())

    def run(self, seconds: float) -> None:
        start = time.time()
        while True:
            self._reset_warehouse()  # untimed: every load starts fresh
            self.loaded = self.timed("bulk_load", "pipeline.run",
                                     lambda: self._run_pipeline(self.tree.root, faithful=True),
                                     units=self.orders)
            if not self.ops[-1]["ok"]:
                break
            if len(self.ops) >= self.min_loads and time.time() - start >= seconds:
                break
        self._storage(self.tree)

    def verify(self) -> None:
        """Compare the warehouse files (read by DuckDB, not Spark) with
        counts and sums derived from the generated rows."""
        import duckdb

        exp = rawgen.star_expectations(self.tree, faithful=True)
        con = duckdb.connect()
        con.execute("SET threads = 2")

        def scan(table: str, expr: str = "count(*)"):
            return con.execute(
                f"SELECT {expr} FROM read_parquet('{self._table_dir(table)}/*.parquet')"
            ).fetchone()[0]

        got = {
            "source_rows": {cc: scan(f"source.{cc}_sales_order") for cc in ("in", "us", "fr")},
            "curated_rows": {cc: scan(f"curated.{cc}_sales_order") for cc in ("in", "us", "fr")},
            **{d: scan(f"consumption.{d}") for d in (
                "region_dim", "product_dim", "promo_code_dim", "customer_dim", "payment_dim",
                "date_dim")},
            "fact_rows": scan("consumption.sales_fact"),
            "fact_us_total": scan("consumption.sales_fact", "sum(us_total_order_amt)"),
        }
        con.close()
        loaded_files = sum(self.loaded.values()) if self.loaded else 0
        if loaded_files != len(self.tree.files):
            self.fail(-1, f"loaded {loaded_files} files of {len(self.tree.files)}")
        for key, want in exp.items():
            have = got[key]
            if isinstance(want, Decimal):
                have = Decimal(str(have))
            if have != want:
                self.fail(-1, f"{key}: got {have}, expected {want}")
        self.extra["expected"] = {k: str(v) for k, v in exp.items()}
        self.extra["fact_per_curated_row"] = exp["fact_rows"] / sum(exp["curated_rows"].values())


_FACT_DENORM = """
SELECT f.order_code, d.order_dt, c.customer_name, c.conctact_no, c.shipping_address,
       p.mobile_key, pc.promotion_code, pay.payment_method, pay.payment_provider,
       r.country, r.region, f.order_quantity, f.local_total_order_amt, f.local_tax_amt,
       f.exhchange_rate, f.us_total_order_amt, f.usd_tax_amt
FROM consumption.sales_fact f
JOIN consumption.date_dim d ON d.date_id_pk = f.date_id_fk
JOIN consumption.customer_dim c ON c.customer_id_pk = f.customer_id_fk
JOIN consumption.product_dim p ON p.product_id_pk = f.product_id_fk
JOIN consumption.promo_code_dim pc ON pc.promo_code_id_pk = f.promo_code_id_fk
JOIN consumption.payment_dim pay ON pay.payment_id_pk = f.payment_id_fk
JOIN consumption.region_dim r ON r.region_id_pk = f.region_id_fk
"""


class EltIncremental(_Elt):
    """Corrected profile with ``incremental=True``: a base load, a fixed
    number of one-day arrivals, then one re-delivered file (already-loaded
    FR orders under a new path, nothing new for IN and US). The first
    arrival carries one namesake order per country (see
    ``rawgen.write_arrival``), so the verdict sees whether earlier fact
    rows fan out to a customer who arrives later."""

    days = 8
    orders_per_file = 300
    arrivals = 2

    def prepare(self) -> None:
        self.tree, self.gen = self._new_tree(0)

    def run(self, seconds: float) -> None:
        start = time.time()
        n = 0
        while True:
            if n:
                self._reset_warehouse()
                self.tree, self.gen = self._new_tree(n)
            self._sequence()
            n += 1
            if not all(o["ok"] for o in self.ops) or time.time() - start >= seconds:
                break
        self._storage(self.tree)

    def _sequence(self) -> None:
        run = lambda: self._run_pipeline(self.tree.root, faithful=False, incremental=True)
        self.timed("base_load", "pipeline.run", run, units=len(self.tree.orders()))
        last = self.gen.first_day + dt.timedelta(days=self.days - 1)
        for i in range(self.arrivals):
            paths = rawgen.write_arrival(self.tree, self.gen, last + dt.timedelta(days=i + 1),
                                         self.orders_per_file, namesake=i == 0)
            self.timed("arrival", "pipeline.run", run,
                       units=sum(len(self.tree.files[p]) for p in paths))
        rawgen.write_redelivery(self.tree, "FR", last)
        self.timed("redelivery", "pipeline.run", run, units=self.orders_per_file)

    def _named(self, name: str) -> list[dict]:
        return [o for o in self.ops if o["name"] == name]

    def latencies(self) -> list[float]:
        return [o["s"] for o in self._named("arrival")]

    def throughput_ops(self) -> list[dict]:
        return self._named("arrival")

    def report(self) -> dict:
        out = super().report()
        out["base_load_s"] = statistics.median(o["s"] for o in self._named("base_load"))
        out["redelivery_s"] = statistics.median(o["s"] for o in self._named("redelivery"))
        return out

    def _snapshot(self) -> dict[str, Counter]:
        """Surrogate-key-independent contents of the star: curated rows
        without keys, dims on business columns, the fact denormalized."""
        t = self.spark.table
        snap = {}
        for cc in ("in", "us", "fr"):
            df = t(f"curated.{cc}_sales_order").drop("sales_order_key")
            snap[f"curated.{cc}"] = Counter(tuple(r) for r in df.collect())
        for dim in ("region", "product", "promo_code", "customer", "payment", "date"):
            df = t(f"consumption.{dim}_dim").drop(f"{dim}_id_pk")
            snap[dim] = Counter(tuple(r) for r in df.collect())
        snap["sales_fact"] = Counter(tuple(r) for r in self.spark.sql(_FACT_DENORM).collect())
        return snap

    def verify(self) -> None:
        """The final incremental star must equal a one-shot corrected load
        of the same tree (and match the counts derived from the rows)."""
        got = self._snapshot()
        self._reset_warehouse()
        self._run_pipeline(self.tree.root, faithful=False)
        want = self._snapshot()
        for key in want:
            if got[key] != want[key]:  # the final star is every operation's output
                self.fail_all(f"{key}: incremental differs from one-shot "
                              f"({sum(got[key].values())} vs {sum(want[key].values())} rows)")
        exp = rawgen.star_expectations(self.tree, faithful=False)
        if sum(want["sales_fact"].values()) != exp["fact_rows"]:
            self.fail(-1, f"fact rows {sum(want['sales_fact'].values())} != {exp['fact_rows']}")


# ---------------------------------------------------------------------------
# Registry queries over the generated corpus
# ---------------------------------------------------------------------------


def _canon(value):
    """Order-insensitive, exact cell canonicalisation shared by both sides."""
    if value is None:
        return None
    if isinstance(value, bool):
        return ("b", value)
    if isinstance(value, float):
        if math.isnan(value) or math.isinf(value):
            return ("f", repr(value))
        return ("n", int(value)) if value == int(value) and abs(value) < 2**53 else ("f", repr(value))
    if isinstance(value, int):
        return ("n", value)
    if isinstance(value, Decimal):
        d = value.normalize()
        return ("n", int(d)) if d == d.to_integral_value() else ("d", str(d))
    if isinstance(value, dt.datetime):
        return ("ts", value.replace(tzinfo=None).isoformat())
    if isinstance(value, dt.date):
        return ("date", value.isoformat())
    if isinstance(value, (list, tuple)):
        return ("l", tuple(_canon(v) for v in value))
    return value


def _rows(columns: list[str], rows) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


class _Queries(Workload):
    """Registry queries in a seed-permuted order each pass, each forced
    through the noop sink. One operation = one query: the registry
    callable (plan building, plus any eager rounds) then the sink."""

    queries: tuple[str, ...] = ()
    sf = 0.01
    #: scale of the untimed warm-up corpus
    warmup_sf = 0.001
    min_passes = 1

    def prepare(self) -> None:
        self.corpus = os.path.join(self.work, "corpus")
        corpus.write_corpus(self.corpus, self.seed, self.sf)
        self.warmup_corpus = os.path.join(self.work, "warmup")
        corpus.write_corpus(self.warmup_corpus, self.seed + 1, self.warmup_sf)
        self.frames = {}

    def warm_up(self) -> None:
        """One untimed pass over a separate, small corpus: the JVM's class
        loading and JIT settle as in a long-lived analyst session, while
        every per-corpus cache (such as the co-purchase edge cache, keyed
        by corpus path) stays cold for the timed corpus."""
        from amazon_sales_data_engineering_spark.plans import REGISTRY

        for name in self.queries:
            df = REGISTRY[name].spark_fn(self.spark, self.warmup_corpus)
            df.write.format("noop").mode("overwrite").save()

    def run(self, seconds: float) -> None:
        from amazon_sales_data_engineering_spark.plans import REGISTRY

        start = time.time()
        passes = 0
        while passes < self.min_passes or time.time() - start < seconds:
            order = list(self.queries)
            self.rng.shuffle(order)
            for name in order:
                self.timed(name, "plans.query", lambda: self._one(REGISTRY[name]))
            passes += 1

    def _one(self, query) -> None:
        with self.span("plans.build"):
            df = query.spark_fn(self.spark, self.corpus)
        with self.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()
        self.frames[query.name] = df

    def verify(self) -> None:
        """Each query's last output against its registry DuckDB oracle:
        row count, column names, and the rows as an exact multiset."""
        import duckdb

        from amazon_sales_data_engineering_spark.plans import REGISTRY

        con = duckdb.connect()
        con.execute("SET threads = 2")
        for table in corpus.TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{self.corpus}/{table}.parquet')")
        last = {o["name"]: i for i, o in enumerate(self.ops)}
        for name, i in last.items():
            if not self.ops[i]["ok"]:
                continue
            df = self.frames[name]
            rel = con.sql(REGISTRY[name].oracle)
            want = _rows(rel.columns, rel.fetchall())
            if sorted(df.columns) != sorted(rel.columns):
                self.fail(i, f"{name}: columns {sorted(df.columns)} != {sorted(rel.columns)}")
                continue
            got = _rows(df.columns, df.collect())
            if got != want:
                self.fail(i, f"{name}: {sum(got.values())} rows differ from the oracle's "
                             f"{sum(want.values())}")
        # a query that was wrong in its last pass was wrong in every pass
        bad = {self.ops[i]["name"] for i in last.values() if not self.ops[i]["ok"]}
        for i, o in enumerate(self.ops):
            if o["name"] in bad:
                o["ok"] = False
        con.close()


class StarQueries(_Queries):
    queries = STAR_QUERIES
    sf = 0.05


class IterativeLoops(_Queries):
    queries = ITERATIVE_QUERIES
    sf = 0.01


WORKLOADS = {
    "elt_bulk": EltBulk,
    "elt_incremental": EltIncremental,
    "star_queries": StarQueries,
    "iterative_loops": IterativeLoops,
}
