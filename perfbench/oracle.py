"""Registry-entry checks against DuckDB answers.

Comparison follows ``tests/oracle_harness``: same column names, same row
count, and the same order-insensitive values with floats rounded to six
places. DuckDB's answer for an entry is computed on first use and kept in
memory for the rest of the run; checks run after the timed passes, so it
is never part of a timed window or of ``setup_s``.
"""

from __future__ import annotations

import os
import sys


# entries without a DuckDB oracle: (row count, sorted columns) at sf0.1
ROWS_ONLY = {"q24b_approx_distinct": (1, ["approx_parts", "approx_suppliers"])}


def _harness(root: str):
    sys.path.insert(0, os.path.join(root, "tests"))
    try:
        import oracle_harness
    finally:
        sys.path.pop(0)
    return oracle_harness


class Oracle:
    def __init__(self, root: str, sf_dir: str):
        from datasheet_etl_spark.plans import oracles

        self.sf_dir = sf_dir
        self.sql = oracles()
        self.harness = _harness(root)
        self._answers: dict[str, tuple[list[str], list[tuple]]] = {}

    def _answer(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._answers:
            con = self.harness.duckdb_conn(self.sf_dir)
            try:
                res = con.execute(self.sql[name])
                cols = [d[0] for d in res.description]
                self._answers[name] = cols, self.harness._canon_rows(res.fetchall(), cols)
            finally:
                con.close()
        return self._answers[name]

    def check(self, name: str, columns: list[str], rows: list) -> str | None:
        """None when the rows are right, else what is wrong."""
        if name in ROWS_ONLY:
            if (len(rows), sorted(columns)) != ROWS_ONLY[name]:
                return f"rows-only contract: {len(rows)} rows, columns {sorted(columns)}"
            return None
        d_cols, d_rows = self._answer(name)
        if sorted(columns) != sorted(d_cols):
            return f"column mismatch: spark={sorted(columns)} duckdb={sorted(d_cols)}"
        if len(rows) != len(d_rows):
            return f"row count mismatch: spark={len(rows)} duckdb={len(d_rows)}"
        mine = self.harness._canon_rows([tuple(r) for r in rows], list(columns))
        if mine != d_rows:
            bad = next((a, b) for a, b in zip(mine, d_rows) if a != b)
            return f"value mismatch, first diff (spark vs duckdb): {bad}"
        return None
