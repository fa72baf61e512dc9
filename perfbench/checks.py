"""Oracle checks for every execution, run outside every timer.

Expected results come from the registry's DuckDB oracle SQL, computed
once per run over the same parquet files the engine reads.

* Fixture workloads compare with ``tools/selfcheck.py``'s exact ``canon``
  (exact values and types, order-insensitive), imported, not copied.
* ``scan_gen`` compares within a relative tolerance: its double sums run
  over tens of millions of rows, where the summation order moves the last
  digits and can flip a ``round(..., 2)``.
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import duckdb

REL_TOL = 1e-9


def load_selfcheck(root: str):
    """Import ``tools/selfcheck.py``. It parses ``sys.argv`` and extends
    ``sys.path`` at import, so it gets an argv with no arguments and both
    are restored afterwards."""
    path = os.path.join(root, "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("perfbench_selfcheck", path)
    module = importlib.util.module_from_spec(spec)
    saved_argv, saved_path = sys.argv, list(sys.path)
    sys.argv = [path]
    try:
        spec.loader.exec_module(module)
    finally:
        sys.argv, sys.path[:] = saved_argv, saved_path
    return module


def _expected(views: dict[str, str], sqls: dict[str, str]) -> dict[str, tuple[list, list]]:
    con = duckdb.connect()
    try:
        for name, source in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM {source}")
        out = {}
        for key, sql in sqls.items():
            res = con.execute(sql)
            out[key] = ([d[0].lower() for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


class ExactOracle:
    """Exact, order-insensitive comparison against the fixture oracles."""

    def __init__(self, selfcheck, data_dir: str, sqls: dict[str, str]) -> None:
        self._canon = selfcheck.canon
        views = {t: f"'{data_dir}/{t}.parquet'" for t in selfcheck.TABLES}
        self._expected = {
            key: (sorted(cols), self._canon(rows, cols))
            for key, (cols, rows) in _expected(views, sqls).items()
        }

    def matches(self, key: str, columns: list[str], rows: list) -> bool:
        cols = [c.lower() for c in columns]
        want_cols, want_rows = self._expected[key]
        return sorted(cols) == want_cols and self._canon(rows, cols) == want_rows


def _same_cell(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (
            isinstance(a, (int, float))
            and isinstance(b, (int, float))
            and math.isclose(a, b, rel_tol=REL_TOL)
        )
    return a == b


def close_rows(want_cols: list[str], want: list, cols: list[str], rows: list) -> bool:
    """Same columns by name, same row count, and rows that pair up, after
    sorting on their non-float cells, with every float within ``REL_TOL``."""
    if sorted(cols) != sorted(want_cols) or len(rows) != len(want):
        return False
    names = sorted(cols)

    def arrange(rows: list, order: list[str]) -> list[tuple]:
        idx = [order.index(n) for n in names]
        out = [tuple(r[i] for i in idx) for r in rows]
        return sorted(out, key=lambda r: tuple(repr(v) for v in r if not isinstance(v, float)))

    return all(
        all(_same_cell(a, b) for a, b in zip(x, y))
        for x, y in zip(arrange(rows, cols), arrange(want, want_cols))
    )


class TolerantOracle:
    """Comparison within ``REL_TOL`` against oracles over generated files."""

    def __init__(self, lineitem_dir: str, sqls: dict[str, str]) -> None:
        views = {"lineitem": f"read_parquet('{lineitem_dir}/*.parquet')"}
        self._expected = _expected(views, sqls)

    def matches(self, key: str, columns: list[str], rows: list) -> bool:
        want_cols, want = self._expected[key]
        return close_rows(want_cols, want, [c.lower() for c in columns], rows)
