"""Output checks: DuckDB oracle tables compared exactly with a job's
written parquet output, outside the timed region."""

from __future__ import annotations

import os


class DuckOracle:
    """An in-memory DuckDB database holding the expected outputs of one
    input. ``views`` maps view names to the parquet files the oracle SQL
    reads (e.g. ``events``). Checks that run beside a live Spark session
    use two threads; input preparation runs before the session starts and
    uses every core."""

    def __init__(self, views: dict[str, str], threads: int = 2):
        import duckdb

        import tempfile

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        self.con.execute(f"SET temp_directory = '{tempfile.gettempdir()}/duckdb'")
        for name, path in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.counts: dict[str, int] = {}
        self.bad_rows = 0  # rows missing or unexpected over every diff so far

    def save(self, directory: str) -> None:
        """Write every oracle table as parquet, plus the counts."""
        import json

        for (name,) in self.con.sql("SELECT table_name FROM duckdb_tables()").fetchall():
            self.con.execute(f"COPY {name} TO '{directory}/expected_{name}.parquet' (FORMAT parquet)")
        with open(os.path.join(directory, "expected.json"), "w") as f:
            json.dump(self.counts, f)

    @classmethod
    def load(cls, directory: str) -> "DuckOracle":
        """The oracle tables ``save`` wrote, as views."""
        import glob
        import json

        views = {
            os.path.basename(p)[len("expected_"):-len(".parquet")]: p
            for p in glob.glob(os.path.join(directory, "expected_*.parquet"))
        }
        o = cls(views)
        with open(os.path.join(directory, "expected.json")) as f:
            o.counts = json.load(f)
        return o

    def materialize(self, table: str, sql: str) -> None:
        self.con.execute(f"CREATE TABLE {table} AS {sql}")

    def scalar(self, sql: str):
        return self.con.sql(sql).fetchone()[0]

    def diff(self, table: str, got: str, subset: bool = False) -> list[str]:
        """Exact multiset comparison of ``table`` with ``got`` — a table name
        or a directory of parquet output — column order-insensitive, NULLs
        equal. With ``subset``, ``table`` need only be contained in ``got``."""
        cols = [r[0] for r in self.con.sql(f"DESCRIBE {table}").fetchall()]
        if os.path.isdir(got):
            got = f"read_parquet('{got}/*.parquet')"
        got_cols = [r[0] for r in self.con.sql(f"DESCRIBE SELECT * FROM {got}").fetchall()]
        if sorted(c.lower() for c in cols) != sorted(c.lower() for c in got_cols):
            return [f"{table}: columns {sorted(got_cols)} != expected {sorted(cols)}"]
        sel = ", ".join(f'"{c}"' for c in sorted(cols))
        n_exp = self.scalar(f"SELECT COUNT(*) FROM {table}")
        n_got = self.scalar(f"SELECT COUNT(*) FROM {got}")
        missing = self.scalar(
            f"SELECT COUNT(*) FROM (SELECT {sel} FROM {table} EXCEPT ALL SELECT {sel} FROM {got})"
        )
        extra = self.scalar(
            f"SELECT COUNT(*) FROM (SELECT {sel} FROM {got} EXCEPT ALL SELECT {sel} FROM {table})"
        )
        if subset:
            n_got, extra = n_exp, 0
        self.bad_rows += missing + extra
        if n_exp != n_got or missing or extra:
            return [f"{table}: {n_got} rows vs {n_exp} expected, {missing} missing, {extra} unexpected"]
        return []
