"""Output check: each key's rows against its DuckDB oracle.

Uses the rule of ``scripts/parity.py``, the repository's oracle parity
check: same column names, same row count, equal
values after sorting columns by name and rows by value, and no integer
or float type drift between the engines. Keys without an oracle (ML and
ANN outputs) are checked for their row count and schema, pinned in the
workload definition.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb


def _load_parity(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(root, "scripts", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    """Compares collected rows with the oracle; oracle results are
    computed once per key and reused for every pass."""

    def __init__(
        self, root: str, sf_dir: str, tables, oracles: dict[str, str], rows_only: dict
    ) -> None:
        self._parity = _load_parity(root)
        self._oracles = oracles
        self._rows_only = rows_only
        self._expected: dict[str, tuple] = {}
        self._con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
        self._con.sql("SET TimeZone='UTC'")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self._con.close()

    def check(self, key: str, rows: list, columns: list[str], dtypes: list) -> tuple[bool, str]:
        if key in self._rows_only:
            want_dtypes, want_rows = self._rows_only[key]
            got = [list(d) for d in dtypes]
            if got != [list(d) for d in want_dtypes]:
                return False, f"schema {got} != {want_dtypes}"
            if len(rows) != want_rows:
                return False, f"row count {len(rows)} != {want_rows}"
            return True, "OK (rows-only)"
        if key not in self._oracles:
            return False, "no oracle and no pinned rows-only shape"
        if key not in self._expected:
            rel = self._con.sql(self._oracles[key])
            self._expected[key] = (list(rel.columns), list(rel.types), rel.fetchall())
        duck_cols, duck_types, duck_rows = self._expected[key]
        ok, msg = self._parity.compare(rows, columns, duck_rows, duck_cols)
        if ok:
            drift = self._parity.type_drift(dtypes, duck_cols, duck_types)
            if drift:
                return False, "type drift: " + "; ".join(drift)
        return ok, msg
