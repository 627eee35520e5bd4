"""Output checks: each Spark result against its ``oracle_sql()`` entry run
in DuckDB over the same generated parquet, with the canonical compare of
``scripts/check_oracle.py`` (row count, column set, order-insensitive
values, bit-exact floats, dtype drift)."""

from __future__ import annotations

import importlib.util
import os
import tempfile

import numpy as np

# Queries whose floats are rounded to a fixed number of decimals by the
# query itself: Spark's round (exact decimal expansion, HALF_UP) and
# DuckDB's round (scaled double) can disagree by one unit in the last
# kept digit on inputs that sit on a rounding boundary. Only such a
# one-unit difference is tolerated; every other column is compared exactly.
LAST_DIGIT = {"nb_classify": 1e-9}


def _load_check_oracle(root: str):
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """Compares results with DuckDB; connects on first use, so building it
    costs nothing inside the benchmark's set-up time."""

    def __init__(self, root: str, data_dir: str, tables: list[str], oracle_sql: dict):
        self._root, self._data_dir, self._tables = root, data_dir, tables
        self._sql = oracle_sql
        self._con = None

    def _connect(self):
        import duckdb

        self._check_oracle = _load_check_oracle(self._root)
        con = duckdb.connect()
        con.execute("SET threads = 4")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        for t in self._tables:
            glob = os.path.join(self._data_dir, f"{t}.parquet", "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
        self._con = con

    def compare(self, name: str, pdf) -> list[str]:
        """Problems found comparing ``pdf`` with the oracle (empty = match)."""
        sql = self._sql.get(name)
        if sql is None:
            return [f"no oracle_sql() entry for {name}"]
        if self._con is None:
            self._connect()
        odf = self._con.execute(sql).df()
        problems = self._check_oracle.compare(name, pdf, odf)
        if problems and name in LAST_DIGIT and self._within_last_digit(pdf, odf, LAST_DIGIT[name]):
            return []
        return problems

    def _within_last_digit(self, pdf, odf, unit: float) -> bool:
        """Equal after canonical ordering, floats within ``unit`` of each
        other, everything else exactly. Callers have already matched the
        row counts and column sets (``compare`` reports those first)."""
        if len(pdf) != len(odf) or sorted(pdf.columns) != sorted(odf.columns):
            return False
        canon = self._check_oracle.canon
        s, o = canon(pdf), canon(odf)
        for c in s.columns:
            sv, ov = s[c].to_numpy(), o[c].to_numpy()
            if np.issubdtype(sv.dtype, np.floating) and np.issubdtype(ov.dtype, np.floating):
                if not np.allclose(sv, ov, rtol=0.0, atol=unit * 1.5, equal_nan=True):
                    return False
            elif not (sv == ov).all():
                return False
        return True

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
