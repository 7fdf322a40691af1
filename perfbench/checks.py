"""Output checks.

A key with a DuckDB oracle (``__spark_entry__.oracle_sql()``) must match it
on the same generated inputs: row count, column set and the canonical value
hash of ``integration/driver_mirror.canon_hash``. A key without one must
match its pinned row count and column set.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

from inputs import TABLES


class OutputChecker:
    def __init__(self, sf_dir: Path, oracles: dict[str, str],
                 rows_only: dict[str, tuple[int, tuple[str, ...]]], work: Path):
        from integration.driver_mirror import canon_hash

        self._hash = canon_hash
        self._oracles = oracles
        self._rows_only = rows_only
        self._con = duckdb.connect()
        self._con.execute(f"SET temp_directory = '{work}'")
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._expected: dict[str, tuple[int, tuple[str, ...], str | None]] = {}

    def expected(self, key: str) -> tuple[int, tuple[str, ...], str | None]:
        if key not in self._expected:
            if key in self._oracles:
                odf = self._con.execute(self._oracles[key]).fetchdf()
                self._expected[key] = (
                    len(odf), tuple(sorted(odf.columns)), self._hash(odf)
                )
            elif key in self._rows_only:
                rows, cols = self._rows_only[key]
                self._expected[key] = (rows, tuple(sorted(cols)), None)
            else:
                raise KeyError(f"{key}: no oracle and no pinned row count")
        return self._expected[key]

    def check(self, key: str, pdf) -> str | None:
        """None when ``pdf`` is the expected output of ``key``, else why not."""
        rows, cols, digest = self.expected(key)
        got_cols = tuple(sorted(pdf.columns))
        if got_cols != cols:
            return f"columns {list(got_cols)} != expected {list(cols)}"
        if len(pdf) != rows:
            return f"rows {len(pdf)} != expected {rows}"
        if digest is not None and self._hash(pdf) != digest:
            return "value hash differs from the DuckDB oracle"
        return None

    def close(self) -> None:
        self._con.close()
