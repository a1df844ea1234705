"""Correctness check: a query's Spark result against its ``oracle_sql()``
twin on DuckDB over the same parquet files.

Both sides go through pandas and are canonicalised by the repository's
own differential harness (``tools/check_correctness.canon_pdf``), so the
comparison is on row count, column names and the sorted multiset of rows
(order-insensitive), with the same cell rules and the same hard failure
on list-valued cells.
"""

from __future__ import annotations

import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
from check_correctness import ListColumnError, canon_pdf  # noqa: E402


class Oracle:
    """DuckDB views over the tables of one data directory, plus the
    oracle SQL."""

    def __init__(self, data_dir: str, sql: dict[str, str]) -> None:
        self._sql = sql
        self._con = duckdb.connect()
        self._con.execute("SET threads = 2")
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            table = os.path.basename(path)[: -len(".parquet")]
            self._con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self._con.close()

    def mismatch(self, name: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` equals the oracle's result, else why not."""
        if name not in self._sql:
            return "no oracle_sql() entry"
        want = self._con.sql(self._sql[name]).df()
        if len(got) != len(want):
            return f"{len(got)} rows, oracle has {len(want)}"
        try:
            gcols, grows = canon_pdf(got)
            wcols, wrows = canon_pdf(want)
        except ListColumnError as exc:
            return str(exc)
        if gcols != wcols:
            return f"columns {gcols} != oracle {wcols}"
        if grows != wrows:
            diff = next(a for a, b in zip(grows, wrows) if a != b)
            return f"content differs from the oracle, e.g. row {diff[:160]!r}"
        return None
