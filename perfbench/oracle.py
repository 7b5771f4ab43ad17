"""DuckDB oracle compare for inventory queries, with the canonicalisation of
``tools/check.py`` (row count, column names, order-insensitive value hash)."""

from __future__ import annotations

import duckdb
import pandas as pd

from tools.check import canonical


class Oracle:
    """DuckDB views over a generated fixture directory."""

    def __init__(self, fixture_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")

    def mismatch(self, sql: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` matches the oracle, else what differs."""
        want = self.con.execute(sql).fetchdf()
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if canonical(got) != canonical(want):
            return "value hash mismatch"
        return None

    def close(self) -> None:
        self.con.close()
