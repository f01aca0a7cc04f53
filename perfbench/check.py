"""Output check: each query's rows against its DuckDB oracle."""

from __future__ import annotations

import os


class Checker:
    """DuckDB views over the workload's input tables, and the oracles."""

    def __init__(self, data_dir: str, oracles: dict[str, str]):
        import duckdb

        from crossfire_spark.catalog import ALL_TABLES

        self.oracles = oracles
        self.con = duckdb.connect()
        for table in ALL_TABLES:
            path = os.path.join(data_dir, f"{table}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, columns: list[str], rows: list[tuple]) -> tuple[bool, str]:
        """Whether ``rows`` are the right output of query ``name``, and why not."""
        from crossfire_spark.plans.compare import results_match

        if name not in self.oracles:
            return False, "no oracle"
        cur = self.con.execute(self.oracles[name])
        return results_match(columns, rows, [d[0] for d in cur.description], cur.fetchall())
