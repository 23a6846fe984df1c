"""Result checks for the correctness gate.

The comparison rules are those of the repository's ``tests/oracle.py``:
columns sorted by name, rows sorted, values compared exactly with
numerics tagged by type (an int64 3549 and a float64 3549.0 differ).
That module is loaded from its file, not copied. It compares scalar
cells only, so array cells are first turned into tuples of canonical
values. Frames from both engines pass through the same rules, so the
stream-versus-batch checks reuse them.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np

from harness import ROOT

_spec = importlib.util.spec_from_file_location(
    "perfbench_test_oracle", os.path.join(ROOT, "tests", "oracle.py"))
_rules = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_rules)


def _cell(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return _rules._canon(v)


def same_rows(got, want) -> tuple[bool, str]:
    """Compare two pandas frames as multisets of rows."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"row count {len(got)} != {len(want)}"
    rows = [_rules._rows(df.map(_cell)) for df in (got, want)]
    for i, (a, b) in enumerate(zip(*rows)):
        if a != b:
            return False, f"sorted row {i}: {a} != {b}"
    return True, "ok"


class DuckOracle:
    """One DuckDB connection with a view per catalog table in ``data_dir``."""

    def __init__(self, data_dir: str):
        self._con = _rules.duckdb_conn(data_dir)

    def check(self, got, sql: str | None) -> tuple[bool, str]:
        """``got`` is the Spark result as pandas. Without an oracle the
        result must hold rows."""
        if sql is None:
            return (len(got) > 0), f"{len(got)} rows, no oracle"
        return same_rows(got, self._con.execute(sql).df())

    def close(self) -> None:
        self._con.close()
