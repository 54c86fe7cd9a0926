"""Output checks: each query's rows against its DuckDB oracle.

Values are compared with ``normalize`` from ``tools/check_oracle.py`` (the
repository's own oracle gate), on the same generated parquet tables Spark
read. A query without an oracle cannot be checked and counts as failed.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

import duckdb  # noqa: E402
from check_oracle import TABLES, normalize  # noqa: E402


class Checker:
    def __init__(self, data_dir: str, oracles: dict[str, str]):
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, df) -> str | None:
        """Collect ``df`` and return a description of the first mismatch,
        or None when the output is right."""
        if name not in self.oracles:
            return "no oracle to check against"
        try:
            got = df.toPandas()
            want = self.con.execute(self.oracles[name]).fetchdf()
            if len(got) != len(want):
                return f"rowcount spark={len(got)} oracle={len(want)}"
            if sorted(got.columns) != sorted(want.columns):
                return f"columns spark={sorted(got.columns)} oracle={sorted(want.columns)}"
            if normalize(got) != normalize(want):
                return "values differ from the oracle"
            return None
        except Exception as exc:  # a failing check counts, the run goes on
            return f"{type(exc).__name__}: {exc}"
