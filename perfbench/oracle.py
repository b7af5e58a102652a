"""Output check: a registry query's Spark result against its
``oracle_sql()`` text run by DuckDB over the same parquet files.

The comparison is the one the repository's oracle test applies: equal
column-name sets, equal row counts, then equal multisets of rows with
columns ordered by name and floats rounded to 6 places (NaN compared
as a token).
"""

from __future__ import annotations

import math
import os
import time

import duckdb

from datagen import TABLES


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def _normalize_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class Oracle:
    """One DuckDB connection with a view per table of ``sf_dir``."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        #: seconds spent on the oracle side: DuckDB and the comparison
        self.oracle_s = 0.0
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"create view {t} as select * from read_parquet('{path}')"
            )

    def close(self) -> None:
        self.con.close()

    def mismatch(self, df, oracle_sql: str) -> str | None:
        """``None`` when ``df`` (a Spark DataFrame) matches the oracle,
        else a one-line reason."""
        cols = df.columns
        got_rows = [tuple(r) for r in df.collect()]
        t0 = time.perf_counter()
        try:
            return self._compare(got_rows, cols, oracle_sql)
        finally:
            self.oracle_s += time.perf_counter() - t0

    def _compare(self, got_rows, cols, oracle_sql: str) -> str | None:
        rel = self.con.sql(oracle_sql)
        want_cols = list(rel.columns)
        want_rows = rel.fetchall()
        if sorted(cols) != sorted(want_cols):
            return f"columns {sorted(cols)} != {sorted(want_cols)}"
        if len(got_rows) != len(want_rows):
            return f"row count {len(got_rows)} != {len(want_rows)}"
        if _normalize_rows(got_rows, cols) != _normalize_rows(want_rows, want_cols):
            return "values differ"
        return None
