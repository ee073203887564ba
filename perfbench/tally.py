"""The benchmark's independent side, run as a child process of ``run.py``.

It writes the seeded inputs and checks the engine's outputs against its
own tallies: the generator's counts, and DuckDB over the same files. Doing
this in a process of its own keeps numpy, pyarrow and DuckDB memory out of
the process tree whose peak RSS the benchmark reports.

Protocol: ``run.py`` writes one pickled ``(method, args)`` request at a
time to stdin and reads one pickled ``(ok, value)`` reply from stdout; the
first request is ``start(workload, seed, root)``. The process exits when
its stdin closes.
"""

from __future__ import annotations

import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _row_hash(columns, rows) -> str:
    from tools.check import value_hash

    return value_hash(list(columns), rows)


def _count_rows(path: str) -> int:
    import pyarrow.dataset as pads

    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


def _parquet_files(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class EtlTally:
    """Owns the evolving Totesys source of ``etl_cycle``."""

    def __init__(self, seed: int, root: str):
        import datagen
        from workloads import ETL_DAYS, ETL_START, EtlPaths, reports

        self.paths = EtlPaths(root)
        self.reports = reports()
        self.src = datagen.Totesys(seed, ETL_START, ETL_DAYS)
        self.changes: dict[int, dict[str, tuple[int, int]]] = {}
        self.snapshot_bytes: dict[int, int] = {}
        self._write_version()

    def _write_version(self) -> None:
        v = self.src.version
        self.snapshot_bytes[v] = self.src.write_snapshot(self.paths.snapshot(v))

    def advance(self, i: int) -> None:
        self.changes[i] = self.src.advance()
        self._write_version()

    def delta_rows(self, i: int) -> dict[str, int]:
        import datagen

        if i == 0:
            return dict(datagen.TOTESYS_ROWS)
        return {name: upd + app for name, (upd, app) in self.changes[i].items() if upd + app}

    def check(self, i: int, answers: dict) -> list[str]:
        import datagen
        import duckdb
        import pyarrow.parquet as pq
        from workloads import DIM_DATE_ROWS, DIM_SOURCES

        wh, bad = self.paths.warehouse, []
        counts = self.src.row_counts()
        for name in ("sales_order", "purchase_order", "payment"):
            got = _count_rows(os.path.join(wh, f"fact_{name}.parquet"))
            if got != counts[name]:
                bad.append(f"fact_{name}: {got} rows, source has {counts[name]}")
        for dim, src in DIM_SOURCES.items():
            got = _count_rows(os.path.join(wh, f"{dim}.parquet"))
            if got != counts[src]:
                bad.append(f"{dim}: {got} rows, source has {counts[src]}")
        got = _count_rows(os.path.join(wh, "dim_date.parquet"))
        if got != DIM_DATE_ROWS:
            bad.append(f"dim_date: {got} rows, expected {DIM_DATE_ROWS}")
        # the watermark advanced to exactly the snapshot's audit maxima
        state = pq.read_table(self.paths.state).to_pylist()
        marks = {r["table_name"]: (r["max_created_at"], r["max_last_updated"]) for r in state}
        if marks != self.src.watermarks():
            bad.append("watermarks differ from the source's audit maxima")
        # staged deltas hold exactly the batch's changed rows
        for name, n in self.delta_rows(i).items():
            got = _count_rows(os.path.join(self.paths.staging, f"{name}.parquet"))
            if got != n:
                bad.append(f"staged delta {name}: {got} rows, batch changed {n}")
        con = duckdb.connect()
        try:
            snap = self.paths.snapshot(i)
            for name in datagen.TOTESYS_ROWS:
                con.execute(f"CREATE VIEW \"{name}\" AS SELECT * FROM '{snap}/{name}.parquet'")
            for name, (_, duck_sql) in self.reports.items():
                cur = con.execute(duck_sql)
                want = _row_hash([d[0] for d in cur.description], cur.fetchall())
                cols, rows = answers[name]
                if not rows or _row_hash(cols, rows) != want:
                    bad.append(f"report {name}: answer differs from the source tally")
        finally:
            con.close()
        return bad

    def disk_counters(self, i: int) -> dict[str, float]:
        delta = sum(self.delta_rows(i).values())
        source_rows = sum(self.src.row_counts().values())
        wh = self.paths.warehouse
        fact_files = fact_bytes = dim_files = dim_bytes = 0
        for name in os.listdir(wh):
            files, size = _parquet_files(os.path.join(wh, name))
            if name.startswith("fact_"):
                fact_files, fact_bytes = fact_files + files, fact_bytes + size
            else:
                dim_files, dim_bytes = dim_files + files, dim_bytes + size
        staged_bytes = sum(
            _parquet_files(os.path.join(self.paths.staging, f"{name}.parquet"))[1] for name in self.delta_rows(i)
        )
        written = fact_bytes + dim_bytes + staged_bytes
        return {
            "cdc.delta_rows": delta,
            "cdc.delta_ratio": delta / source_rows,
            "parquet.files_written.fact": fact_files,
            "parquet.files_written.dim": dim_files,
            "parquet.bytes_written": written,
            "parquet.bytes_per_source_byte": written / self.snapshot_bytes[i],
        }


class CatalogTally:
    """Writes each entry list's tables and checks results against the
    entries' DuckDB oracles."""

    def __init__(self, seed: int, root: str):
        import datagen
        from workloads import ENTRY_LISTS

        self.lists = {lst.name: lst for lst in ENTRY_LISTS}
        self.data = {}
        for lst in ENTRY_LISTS:
            self.data[lst.name] = os.path.join(root, lst.name)
            datagen.write_catalog_tables(self.data[lst.name], seed, lst.sf, set(lst.tables))

    def check(self, answers: dict) -> list[str]:
        """``answers``: entry -> (list name, oracle SQL, columns, rows)."""
        import duckdb

        bad = []
        for list_name, lst in self.lists.items():
            con = duckdb.connect()
            try:
                for t in lst.tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data[list_name]}/{t}.parquet'")
                for name, (owner, oracle_sql, cols, rows) in answers.items():
                    if owner != list_name:
                        continue
                    try:
                        cur = con.execute(oracle_sql)
                        want = _row_hash([d[0] for d in cur.description], cur.fetchall())
                    except Exception as exc:
                        bad.append(f"{name}: oracle failed: {type(exc).__name__}: {exc}")
                        continue
                    if not rows or _row_hash(cols, rows) != want:
                        bad.append(f"{name}: result hash differs from the DuckDB oracle")
            finally:
                con.close()
        return bad


TALLIES = {"etl_cycle": EtlTally, "query_catalog": CatalogTally}


def serve(requests, replies) -> None:
    tally = None
    while True:
        try:
            method, args = pickle.load(requests)
        except EOFError:
            return
        try:
            if method == "start":
                workload, seed, root = args
                tally = TALLIES[workload](seed, root)
                value = getattr(tally, "data", None)
            else:
                value = getattr(tally, method)(*args)
            reply = (True, value)
        except Exception as exc:
            reply = (False, f"{type(exc).__name__}: {exc}")
        pickle.dump(reply, replies)
        replies.flush()


if __name__ == "__main__":
    sys.path[:0] = [HERE, os.getcwd()]
    # Replies go to a private copy of stdout; anything a library prints
    # goes to stderr instead of into the reply stream.
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    serve(sys.stdin.buffer, replies)
