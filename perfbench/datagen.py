"""Seeded input generators for the benchmark.

Everything here is plain numpy + pyarrow, so generation needs no Spark
session and the same seed always writes byte-identical inputs.

* ``write_catalog_tables`` writes TPC-H-ish tables in the shape of the
  engine's ``TESTDATA_SCHEMAS`` (the catalog entries' inputs).
* ``Totesys`` holds an 11-table OLTP snapshot in the shape of
  ``OLTP_SCHEMAS`` and produces seeded change batches, each written as a
  full snapshot version, together with the tallies the ETL checks use.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_TS = pa.timestamp("us")
_DEC = pa.decimal128(10, 2)

# ---------------------------------------------------------------------------
# catalog inputs (TESTDATA_SCHEMAS shape)
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark"
    " line sort window order data column join small customer query filter"
    " group big stream vector"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def _days(rng: np.random.Generator, n: int, span: int, offset: int = 0) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(0, span, n) + offset).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_catalog_tables(base_dir: str, seed: int, sf: float, tables: set[str]) -> dict[str, int]:
    """Write the requested tables at scale ``sf`` (sf0.01: 60k lineitem
    rows) under ``base_dir``; returns row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(base_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = max(2000, int(6_000_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    out: dict[str, pa.Table] = {}
    if "region" in tables:
        out["region"] = pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        )
    if "nation" in tables:
        keys = np.arange(25, dtype=np.int32)
        out["nation"] = pa.table(
            {
                "n_nationkey": keys,
                "n_name": [f"NATION_{k}" for k in keys],
                "n_regionkey": keys % 5,
            }
        )
    if "customer" in tables:
        keys = np.arange(n_cust, dtype=np.int64)
        out["customer"] = pa.table(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        )
    if "supplier" in tables:
        keys = np.arange(n_supp, dtype=np.int64)
        out["supplier"] = pa.table(
            {
                "s_suppkey": keys,
                "s_name": [f"Supplier#{k:09d}" for k in keys],
                "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        )
    if "part" in tables:
        keys = np.arange(n_part, dtype=np.int64)
        adj = np.array(_ADJ)[rng.integers(0, len(_ADJ), n_part)]
        noun = np.array(_NOUN)[rng.integers(0, len(_NOUN), n_part)]
        out["part"] = pa.table(
            {
                "p_partkey": keys,
                "p_name": np.char.add(np.char.add(adj, " "), noun),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": np.array(_PTYPES)[rng.integers(0, len(_PTYPES), n_part)],
                "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
                "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
            }
        )
    if "orders" in tables:
        out["orders"] = pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": pa.array(_days(rng, n_ord, 2404), _TS),
                "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        )
    if "lineitem" in tables:
        out["lineitem"] = pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
                "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": pa.array(_days(rng, n_line, 2498, 1), _TS),
            }
        )
    if "documents" in tables:
        texts: list[str] = []
        for i in range(n_docs):
            if i >= 20 and rng.random() < 0.05:
                # near-duplicate of an earlier document
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                n_words = int(rng.integers(10, 100))
                texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n_words)]))
        out["documents"] = pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
    missing = tables - set(out)
    if missing:
        raise ValueError(f"no generator for tables: {sorted(missing)}")
    for name, table in out.items():
        pq.write_table(table, os.path.join(base_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in out.items()}


# ---------------------------------------------------------------------------
# Totesys OLTP snapshots with change batches (OLTP_SCHEMAS shape)
# ---------------------------------------------------------------------------

# Row counts follow star_fixture.totesys_from_testdata at sf0.01.
TOTESYS_ROWS = {
    "address": 1500,
    "counterparty": 100,
    "currency": 4,
    "department": 5,
    "design": 2000,
    "payment_type": 4,
    "payment": 15000,
    "purchase_order": 60000,
    "sales_order": 15000,
    "staff": 100,
    "transaction": 15000,
}
# Tables a change batch touches: the transactional ones. The reference
# data's dimensions (address, staff, design, ...) change rarely.
CHANGING = ("payment", "purchase_order", "sales_order", "transaction")
UPDATE_SHARE = 0.01
APPEND_SHARE = 0.005


class Totesys:
    """An evolving 11-table OLTP source.

    Audit timestamps of the base snapshot fall in ``[start, start + days)``;
    batch ``v`` stamps its updated and appended rows in the hour after
    ``start + days + v`` hours, so every batch's timestamps exceed every
    earlier one (the CDC watermark contract).
    """

    def __init__(self, seed: int, start: datetime, days: int):
        self.rng = np.random.default_rng(seed)
        self.start = np.datetime64(start, "us")
        self.days = days
        self.version = 0
        self.cols: dict[str, dict[str, np.ndarray]] = {}
        for name, n in TOTESYS_ROWS.items():
            self.cols[name] = self._base(name, n)

    # -- generation ---------------------------------------------------------

    def _stamps(self, n: int) -> np.ndarray:
        secs = self.rng.integers(0, self.days * 86400, n)
        return self.start + secs.astype("timedelta64[s]")

    def _batch_stamps(self, n: int) -> np.ndarray:
        hour = self.start + np.timedelta64(self.days * 24 + self.version, "h")
        return hour + self.rng.integers(0, 3600, n).astype("timedelta64[s]")

    def _rows(self, name: str, ids: np.ndarray) -> dict[str, np.ndarray]:
        """Non-audit columns for rows with the given ids."""
        r, n = self.rng, len(ids)
        i32 = lambda lo, hi: r.integers(lo, hi, n, dtype=np.int32)  # noqa: E731
        cents = lambda hi: r.integers(1, hi, n)  # noqa: E731
        day_str = lambda: np.datetime_as_string(  # noqa: E731
            self.start + r.integers(0, self.days + 30, n).astype("timedelta64[D]"), "D"
        )
        ids = ids.astype(np.int32)
        if name == "address":
            return {
                "address_id": ids,
                "address_line_1": np.char.add(ids.astype(str), " High St"),
                "address_line_2": np.char.add("Suite ", (ids % 90).astype(str)),
                "district": np.char.add("District ", (ids % 10).astype(str)),
                "city": np.char.add("City ", (ids % 100).astype(str)),
                "postal_code": np.char.add("PC", (ids % 1000).astype(str)),
                "country": np.char.add("Country ", (ids % 25).astype(str)),
                "phone": np.char.add("PH-", ids.astype(str)),
            }
        if name == "counterparty":
            return {
                "counterparty_id": ids,
                "counterparty_legal_name": np.char.add("Counterparty ", ids.astype(str)),
                "legal_address_id": i32(1, TOTESYS_ROWS["address"] + 1),
                "commercial_contact": np.char.add("cc", ids.astype(str)),
                "delivery_contact": np.char.add("dc", ids.astype(str)),
            }
        if name == "currency":
            return {"currency_id": ids, "currency_code": np.array(["GBP", "USD", "EUR", "ZZZ"])[ids - 1]}
        if name == "department":
            return {
                "department_id": ids,
                "department_name": np.char.add("Dept ", ids.astype(str)),
                "location": np.char.add("Loc ", ids.astype(str)),
                "manager": np.char.add("Mgr ", ids.astype(str)),
            }
        if name == "design":
            return {
                "design_id": ids,
                "design_name": np.char.add("design ", ids.astype(str)),
                "file_location": np.char.add("/designs/", (ids % 50).astype(str)),
                "file_name": np.char.add(np.char.add("design_", ids.astype(str)), ".json"),
            }
        if name == "payment_type":
            names = ["SALES_RECEIPT", "SALES_REFUND", "PURCHASE_PAYMENT", "PURCHASE_REFUND"]
            return {"payment_type_id": ids, "payment_type_name": np.array(names)[ids - 1]}
        if name == "staff":
            return {
                "staff_id": ids,
                "first_name": np.char.add("F", (ids % 50).astype(str)),
                "last_name": np.char.add("L", (ids % 97).astype(str)),
                "department_id": i32(1, TOTESYS_ROWS["department"] + 1),
                "email_address": np.char.add(np.char.add("s", ids.astype(str)), "@example.com"),
            }
        if name == "transaction":
            sale = ids % 2 == 0
            return {
                "transaction_id": ids,
                "transaction_type": np.where(sale, "SALE", "PURCHASE"),
                # the other side's id is NULL (see _arrow)
                "sales_order_id": ids,
                "purchase_order_id": ids,
            }
        if name == "sales_order":
            return {
                "sales_order_id": ids,
                "design_id": i32(1, TOTESYS_ROWS["design"] + 1),
                "staff_id": i32(1, TOTESYS_ROWS["staff"] + 1),
                "counterparty_id": i32(1, TOTESYS_ROWS["counterparty"] + 1),
                "units_sold": i32(1, 500),
                "unit_price": cents(10_000),
                "currency_id": i32(1, 5),
                "agreed_delivery_date": day_str(),
                "agreed_payment_date": day_str(),
                "agreed_delivery_location_id": i32(1, TOTESYS_ROWS["address"] + 1),
            }
        if name == "purchase_order":
            return {
                "purchase_order_id": ids,
                "staff_id": i32(1, TOTESYS_ROWS["staff"] + 1),
                "counterparty_id": i32(1, TOTESYS_ROWS["counterparty"] + 1),
                "item_code": np.char.add("ITEM-", r.integers(0, 2000, n).astype(str)),
                "item_quantity": i32(1, 51),
                "item_unit_price": cents(100_000),
                "currency_id": i32(1, 5),
                "agreed_delivery_date": day_str(),
                "agreed_payment_date": day_str(),
                "agreed_delivery_location_id": i32(1, TOTESYS_ROWS["address"] + 1),
            }
        if name == "payment":
            return {
                "payment_id": ids,
                "transaction_id": ids,
                "counterparty_id": i32(1, TOTESYS_ROWS["counterparty"] + 1),
                "payment_amount": cents(1_000_000),
                "currency_id": i32(1, 5),
                "payment_type_id": i32(1, 5),
                "paid": r.integers(0, 2, n).astype(bool),
                "payment_date": day_str(),
                "company_ac_number": np.full(n, 11111, np.int32),
                "counterparty_ac_number": np.full(n, 22222, np.int32),
            }
        raise ValueError(name)

    def _base(self, name: str, n: int) -> dict[str, np.ndarray]:
        cols = self._rows(name, np.arange(1, n + 1))
        created = self._stamps(n)
        # last_updated never precedes created_at
        cols["created_at"] = created
        cols["last_updated"] = created + self.rng.integers(0, 3600, n).astype("timedelta64[s]")
        return cols

    def advance(self) -> dict[str, tuple[int, int]]:
        """Apply the next change batch in memory: about 1% of each changing
        table's rows get a newer ``last_updated`` and 0.5% new rows are
        appended. Returns per-table ``(updated, appended)`` row counts."""
        self.version += 1
        changes = {}
        for name in CHANGING:
            cols = self.cols[name]
            n = len(cols["created_at"])
            n_upd = round(n * UPDATE_SHARE)
            idx = self.rng.choice(n, n_upd, replace=False)
            cols["last_updated"][idx] = self._batch_stamps(n_upd)
            if name == "sales_order":
                cols["units_sold"][idx] += 1
            elif name == "purchase_order":
                cols["item_quantity"][idx] += 1
            elif name == "payment":
                cols["paid"][idx] = ~cols["paid"][idx]
            n_app = round(n * APPEND_SHARE)
            new = self._rows(name, np.arange(n + 1, n + n_app + 1))
            new["created_at"] = self._batch_stamps(n_app)
            new["last_updated"] = new["created_at"]
            for c in cols:
                cols[c] = np.concatenate([cols[c], new[c]])
            changes[name] = (n_upd, n_app)
        return changes

    # -- output -------------------------------------------------------------

    def _arrow(self, name: str) -> pa.Table:
        from pw_etl_scrumptious_squad_spark.schemas import OLTP_SCHEMAS

        cols = self.cols[name]
        arrays = []
        for field in OLTP_SCHEMAS[name].fields:
            v = cols[field.name]
            tname = field.dataType.typeName()
            if tname == "timestamp_ntz":
                arrays.append(pa.array(v, _TS))
            elif tname == "decimal":
                arrays.append(pa.array([Decimal(int(c)).scaleb(-2) for c in v], _DEC))
            elif tname == "integer":
                mask = None
                if name == "transaction" and field.name != "transaction_id":
                    sale = cols["transaction_type"] == "SALE"
                    mask = ~sale if field.name == "sales_order_id" else sale
                arrays.append(pa.array(v, pa.int32(), mask=mask))
            elif tname == "boolean":
                arrays.append(pa.array(v, pa.bool_()))
            else:
                arrays.append(pa.array(v.astype(str), pa.string()))
        return pa.Table.from_arrays(arrays, names=[f.name for f in OLTP_SCHEMAS[name].fields])

    def write_snapshot(self, base_dir: str) -> int:
        """Write the current version as a full snapshot; returns its bytes."""
        os.makedirs(base_dir, exist_ok=True)
        total = 0
        for name in self.cols:
            path = os.path.join(base_dir, f"{name}.parquet")
            pq.write_table(self._arrow(name), path)
            total += os.path.getsize(path)
        return total

    def row_counts(self) -> dict[str, int]:
        return {name: len(c["created_at"]) for name, c in self.cols.items()}

    def watermarks(self) -> dict[str, tuple[datetime, datetime]]:
        """Expected (max created_at, max last_updated) per table."""
        out = {}
        for name, c in self.cols.items():
            out[name] = (_py(c["created_at"].max()), _py(c["last_updated"].max()))
        return out


def _py(ts: np.datetime64) -> datetime:
    return datetime(1970, 1, 1) + timedelta(microseconds=int(ts.astype("datetime64[us]").astype(np.int64)))
