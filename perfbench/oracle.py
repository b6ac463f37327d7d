"""DuckDB oracle answers and the row comparison the benchmark checks with.

Normalisation is the one ``tests/conftest.assert_df_matches_oracle`` uses:
columns sorted by name, floats rounded to 9 digits (NaN as a string), numpy
scalars and arrays unwrapped, rows sorted by their ``str``. Oracle answers
are computed once per (entry, oracle SQL, data set) and cached on disk under
a hash of all three, so no oracle work falls inside a timed region or a later
run, and an edited query or data set never meets a stale answer.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle

import numpy as np


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, np.ndarray):
        return tuple(norm_cell(x) for x in v.tolist())
    if isinstance(v, (np.integer, np.floating)):
        return norm_cell(v.item())
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def canonical(pdf) -> tuple[list[str], list[tuple]]:
    """(sorted column names, sorted normalised rows) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(norm_cell(v) for v in row)
         for row in pdf[cols].itertuples(index=False, name=None)),
        key=str,
    )
    return cols, rows


def mismatch(got, want) -> str | None:
    """None when two canonical answers agree, else why they differ."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {gcols} != oracle {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != oracle {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if g != w:
            return f"row {i}: {g} != oracle {w}"
    return None


def data_set_id(data_dir: str, tables: tuple[str, ...]) -> str:
    """Hash of the names and bytes of a data set's tables."""
    h = hashlib.sha256()
    for t in tables:
        h.update(t.encode() + b"\0")
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def load(path: str):
    with open(path, "rb") as fh:
        return pickle.load(fh)


class OracleCache:
    """Canonical DuckDB answers for one data directory, cached on disk."""

    def __init__(self, data_dir: str, cache_dir: str, tables: tuple[str, ...]):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.tables = tables
        self.data_id = data_set_id(data_dir, tables)
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for t in self.tables:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def path(self, name: str, sql: str) -> str:
        key = hashlib.sha256("\0".join((name, sql, self.data_id)).encode()).hexdigest()
        return os.path.join(self.cache_dir, f"{name}-{key[:20]}.pkl")

    def answer(self, name: str, sql: str) -> str:
        """Path of the cached answer, computed first if it is missing."""
        path = self.path(name, sql)
        if os.path.exists(path):
            return path
        pdf = self._connection().execute(sql).fetch_arrow_table().to_pandas()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(canonical(pdf), fh)
        os.replace(tmp, path)
        return path

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
