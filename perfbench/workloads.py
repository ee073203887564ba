"""The benchmark's workloads, Spark side.

Each workload has the same life cycle, driven by ``run.py``:

* ``prepare(root)`` has the tally process write the seeded inputs under a
  fresh directory;
* ``next_input(i)`` makes op ``i``'s input, outside the timing;
* ``op(i)`` runs one closed-loop operation, which the caller times, and
  returns its wall time split into named phases;
* ``check(i)`` verifies the op's outputs against the tally process's
  independent counts, outside the timing, and returns a list of failures.

The engine is driven only through the public functions of ``plans.etl``,
``api``, ``catalog`` and ``session``. Input generation and the tallies run
in the separate process (``tally.py``) that ``tally`` talks to; this module
imports neither numpy, pyarrow nor DuckDB.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from datetime import date, datetime, timedelta


class Workload:
    name = ""

    def __init__(self, spark, tracer, tally, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.tally = tally
        self.seed = seed

    def prepare(self, root: str) -> None:
        raise NotImplementedError

    def next_input(self, i: int) -> None:
        pass

    def op(self, i: int) -> dict[str, float]:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        raise NotImplementedError

    def after_op(self, i: int) -> dict[str, float]:
        """Per-op counters read from disk for the traced run."""
        return {}


def plain_rows(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


# ---------------------------------------------------------------------------
# etl_cycle
# ---------------------------------------------------------------------------

ETL_START = datetime(2023, 1, 1)
ETL_DAYS = 30
WAREHOUSE_TABLES = [
    "fact_sales_order",
    "fact_purchase_order",
    "fact_payment",
    "dim_date",
    "dim_currency",
    "dim_payment_type",
    "dim_counterparty",
    "dim_staff",
]
# dim -> source table it is a 1:1 projection of
DIM_SOURCES = {
    "dim_staff": "staff",
    "dim_location": "address",
    "dim_currency": "currency",
    "dim_design": "design",
    "dim_counterparty": "counterparty",
    "dim_transaction": "transaction",
    "dim_payment_type": "payment_type",
}
DIM_DATE_ROWS = (date(2024, 1, 1) - date(2022, 1, 1)).days + 1


@dataclass(frozen=True)
class EtlPaths:
    root: str

    def snapshot(self, v: int) -> str:
        return os.path.join(self.root, "source", f"v{v}")

    @property
    def staging(self) -> str:
        return os.path.join(self.root, "staging")

    @property
    def warehouse(self) -> str:
        return os.path.join(self.root, "warehouse")

    @property
    def state(self) -> str:
        return os.path.join(self.root, "state", "watermarks.parquet")


def reports() -> dict[str, tuple[str, str]]:
    lo = ETL_START.date()
    # the last day holds the change batches' rows
    return _reports(lo, lo + timedelta(days=ETL_DAYS // 2), lo + timedelta(days=ETL_DAYS))


def _reports(lo: date, mid: date, hi: date) -> dict[str, tuple[str, str]]:
    """Star-schema reports: (Spark SQL over the warehouse views, DuckDB SQL
    over the OLTP source snapshot that must give the same rows)."""
    return {
        "sales_by_month_currency": (
            f"""SELECT d.year, d.month, c.currency_code, COUNT(*) AS n,
                   CAST(SUM(f.units_sold) AS BIGINT) AS units,
                   CAST(SUM(CAST(f.`unit price` * 100 AS BIGINT) * f.units_sold) AS BIGINT) AS cents
            FROM fact_sales_order f
            JOIN dim_date d ON f.created_date = d.date_id
            JOIN dim_currency c ON f.currency_id = c.currency_id
            WHERE f.created_date BETWEEN DATE'{lo}' AND DATE'{hi}'
            GROUP BY d.year, d.month, c.currency_code""",
            f"""SELECT CAST(year(s.created_at) AS INTEGER) AS year,
                   CAST(month(s.created_at) AS INTEGER) AS month, c.currency_code,
                   COUNT(*) AS n, CAST(SUM(s.units_sold) AS BIGINT) AS units,
                   CAST(SUM(CAST(s.unit_price * 100 AS BIGINT) * s.units_sold) AS BIGINT) AS cents
            FROM sales_order s JOIN currency c ON s.currency_id = c.currency_id
            WHERE CAST(s.created_at AS DATE) BETWEEN DATE'{lo}' AND DATE'{hi}'
            GROUP BY ALL""",
        ),
        "payments_by_type": (
            f"""SELECT t.payment_type_name, f.paid, COUNT(*) AS n,
                   CAST(SUM(CAST(f.payment_amount * 100 AS BIGINT)) AS BIGINT) AS cents
            FROM fact_payment f
            JOIN dim_payment_type t ON f.payment_type_id = t.payment_type_id
            JOIN dim_date d ON f.created_date = d.date_id
            WHERE f.created_date BETWEEN DATE'{mid}' AND DATE'{hi}' AND d.day_of_week <= 5
            GROUP BY t.payment_type_name, f.paid""",
            f"""SELECT t.payment_type_name, p.paid, COUNT(*) AS n,
                   CAST(SUM(CAST(p.payment_amount * 100 AS BIGINT)) AS BIGINT) AS cents
            FROM payment p JOIN payment_type t ON p.payment_type_id = t.payment_type_id
            WHERE CAST(p.created_at AS DATE) BETWEEN DATE'{mid}' AND DATE'{hi}'
              AND isodow(p.created_at) <= 5
            GROUP BY ALL""",
        ),
        "top_purchase_counterparties": (
            f"""SELECT cp.counterparty_legal_name, cp.counterparty_legal_city,
                   CAST(SUM(f.item_quantity) AS BIGINT) AS qty, COUNT(*) AS n
            FROM fact_purchase_order f
            JOIN dim_counterparty cp ON f.counterparty_id = cp.counterparty_id
            WHERE f.created_date BETWEEN DATE'{lo}' AND DATE'{mid}'
            GROUP BY cp.counterparty_legal_name, cp.counterparty_legal_city
            ORDER BY qty DESC, cp.counterparty_legal_name LIMIT 10""",
            f"""SELECT cp.counterparty_legal_name, a.city AS counterparty_legal_city,
                   CAST(SUM(po.item_quantity) AS BIGINT) AS qty, COUNT(*) AS n
            FROM purchase_order po
            JOIN counterparty cp ON po.counterparty_id = cp.counterparty_id
            JOIN address a ON cp.legal_address_id = a.address_id
            WHERE CAST(po.created_at AS DATE) BETWEEN DATE'{lo}' AND DATE'{mid}'
            GROUP BY ALL ORDER BY qty DESC, cp.counterparty_legal_name LIMIT 10""",
        ),
        "sales_by_department": (
            f"""SELECT s.department_name, COUNT(*) AS n, CAST(SUM(f.units_sold) AS BIGINT) AS units
            FROM fact_sales_order f JOIN dim_staff s ON f.sales_staff_id = s.staff_id
            WHERE f.created_date BETWEEN DATE'{mid}' AND DATE'{hi}'
            GROUP BY s.department_name""",
            f"""SELECT d.department_name, COUNT(*) AS n, CAST(SUM(so.units_sold) AS BIGINT) AS units
            FROM sales_order so JOIN staff st ON so.staff_id = st.staff_id
            JOIN department d ON st.department_id = d.department_id
            WHERE CAST(so.created_at AS DATE) BETWEEN DATE'{mid}' AND DATE'{hi}'
            GROUP BY ALL""",
        ),
    }


class EtlCycle(Workload):
    """Incremental CDC cycles into a partitioned star schema, each followed
    by a batch of star-schema reports over the fresh warehouse."""

    name = "etl_cycle"

    def prepare(self, root: str) -> None:
        self.paths = EtlPaths(root)
        self.reports = reports()
        self.tally.call("start", self.name, self.seed, root)

    def next_input(self, i: int) -> None:
        if i > 0:  # op 0 is the full extract of the base snapshot
            self.tally.call("advance", i)

    def op(self, i: int) -> dict[str, float]:
        from pw_etl_scrumptious_squad_spark import api
        from pw_etl_scrumptious_squad_spark.plans import etl

        p = self.paths
        t0 = time.perf_counter()
        etl.run_batch_etl(self.spark, p.snapshot(i), p.staging, p.warehouse, p.state)
        t1 = time.perf_counter()
        with self.tracer.span("report.batch"):
            api.register_tables(self.spark, p.warehouse, WAREHOUSE_TABLES)
            self.results = {}
            for name, (spark_sql, _) in self.reports.items():
                with self.tracer.span("report.run", report=name):
                    df = self.spark.sql(spark_sql)
                    self.results[name] = (df.columns, df.collect())
        t2 = time.perf_counter()
        return {"cycle_s": t1 - t0, "report_s": t2 - t1}

    def check(self, i: int) -> list[str]:
        answers = {name: (cols, plain_rows(rows)) for name, (cols, rows) in self.results.items()}
        return self.tally.call("check", i, answers)

    def after_op(self, i: int) -> dict[str, float]:
        return self.tally.call("disk_counters", i)


# ---------------------------------------------------------------------------
# catalog passes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class EntryList:
    """Catalog entries run at one scale over their own generated inputs."""

    name: str
    entries: tuple[str, ...]
    tables: frozenset[str]
    sf: float


# Build (plan construction plus the eager jobs ``build()`` fires) is most
# of these entries' wall time: a PageRank loop and MinHash.
DRIVER_BOUND = EntryList(
    "driver_bound",
    ("y81_part_pagerank", "d03_minhash_signatures"),
    frozenset({"lineitem", "part", "documents"}),
    0.001,
)
# Relational entries whose wall time is mostly scans, shuffles and
# executor work; build is a few percent of it.
SCAN_BOUND = EntryList(
    "scan_bound",
    ("q01_pricing_summary", "q16_local_supplier_volume"),
    frozenset({"customer", "orders", "lineitem", "nation", "region", "supplier"}),
    0.1,
)
ENTRY_LISTS = (DRIVER_BOUND, SCAN_BOUND)


class QueryCatalog(Workload):
    """One op = one pass over both entry lists: ``entry.build`` then a noop
    write of the result. The first warm-up pass collects each result
    instead, and ``check`` compares it with the entry's DuckDB oracle."""

    name = "query_catalog"

    def prepare(self, root: str) -> None:
        from pw_etl_scrumptious_squad_spark import catalog

        cat = catalog.catalog()
        self.data = self.tally.call("start", self.name, self.seed, root)
        self.entries = {}
        for lst in ENTRY_LISTS:
            for name in lst.entries:
                self.entries[name] = (cat[name], self.data[lst.name], lst)
        self.results: dict[str, tuple] = {}
        self.bad = ["pass 0 was not checked"]

    def op(self, i: int) -> dict[str, float]:
        phases = {"build_s": 0.0, "run_s": 0.0}
        for name, (entry, data, lst) in self.entries.items():
            t0 = time.perf_counter()
            with self.tracer.span("catalog.build", entry=name, list=lst.name):
                df = entry.build(self.spark, data)
            t1 = time.perf_counter()
            with self.tracer.span("exec.run", entry=name, list=lst.name):
                if i == 0:
                    self.results[name] = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            phases["build_s"] += t1 - t0
            phases["run_s"] += t2 - t1
            phases[f"{lst.name}_s"] = phases.get(f"{lst.name}_s", 0.0) + t2 - t0
        return phases

    def check(self, i: int) -> list[str]:
        # Pass 0 collected every result; later passes run the same builds
        # over the same inputs, so an entry that failed its oracle check
        # fails every pass.
        if i != 0:
            return self.bad
        from pw_etl_scrumptious_squad_spark import catalog

        answers = {}
        for name, (entry, data, lst) in self.entries.items():
            cols, rows = self.results[name]
            answers[name] = (lst.name, catalog.resolve_oracle(entry, data), cols, plain_rows(rows))
        self.bad = self.tally.call("check", answers)
        return self.bad


WORKLOADS = {w.name: w for w in (EtlCycle, QueryCatalog)}
