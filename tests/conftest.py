from __future__ import annotations

import math
import os

import duckdb
import pytest

from usedcars_bigdata_spark.schemas import TABLE_NAMES
from usedcars_bigdata_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# Captured from the session fixture at setup (r13, ADVICE r12): the
# restore fixture below must put back the value the session was actually
# configured with, not a literal that silently goes stale if the fixture's
# shuffle_partitions or SPARK_GRAFT_CPUS defaults change.
_SESSION_SHUFFLE_DEFAULT: list[str] = []


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_session(app_name="tests", shuffle_partitions=8)
    _SESSION_SHUFFLE_DEFAULT.append(s.conf.get("spark.sql.shuffle.partitions"))
    yield s


@pytest.fixture(autouse=True)
def _drain_two_pass_hubs():
    """Autouse safety net: the two-pass window operators persist bucket
    hubs registered in window._PERSISTED_HUBS; tests that exercise them
    release explicitly after their asserts, but a FAILING assert would
    leak the persisted frames into the session-scoped SparkSession and
    turn later plan-shape/cache-count assertions into confusing
    secondary failures (r9 review finding). Draining here is a no-op
    when the registry is empty, and never touches caches tests manage
    themselves (a test's own persist() and fixture-level caches stay
    untouched)."""
    yield
    from usedcars_bigdata_spark.operators.window import release_hubs

    release_hubs()


@pytest.fixture(autouse=True)
def _reset_shuffle_partitions():
    """Safety net for tests that set spark.sql.shuffle.partitions
    themselves: restores the value the session fixture was configured
    with (not a hardcoded literal) so a failing test can't leak its conf
    into the next one. (Stream queries only change it inside
    streaming.events.run_stream, around start().)"""
    yield
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None and _SESSION_SHUFFLE_DEFAULT:
            s.conf.set(
                "spark.sql.shuffle.partitions", _SESSION_SHUFFLE_DEFAULT[0]
            )
    except Exception:
        pass


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm_cell(v):
    import numpy as np

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v.tolist())
    if isinstance(v, (np.integer, np.floating)):
        return _norm_cell(v.item())
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def assert_df_matches_oracle(spark_df, duck_con, sql: str) -> None:
    """Mirror of the driver's comparison: sort columns by name, compare the
    row multiset cell-by-cell (floats to 1e-9).

    Also rejects array/map/struct columns in the Spark output up front:
    the driver canonicalizes with a pandas sort_values over all columns,
    which dies on unhashable cells (round 3's ext_embedding_quantize red
    row) — an oracle-backed contract output must be flat; serialize
    nested values to strings (rel_collect_sorted_lists precedent)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    nested = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"oracle-backed output has nested columns {nested}: the driver's "
        "pandas canonicalizer crashes on unhashable cells — stringify them"
    )
    oracle = duck_con.execute(sql).fetch_arrow_table().to_pandas()
    got = spark_df.toPandas()
    assert sorted(got.columns) == sorted(oracle.columns), (
        f"column mismatch: spark={sorted(got.columns)} oracle={sorted(oracle.columns)}"
    )
    cols = sorted(got.columns)
    got_rows = sorted(
        (
            tuple(_norm_cell(v) for v in row)
            for row in got[cols].itertuples(index=False, name=None)
        ),
        key=str,
    )
    want_rows = sorted(
        (
            tuple(_norm_cell(v) for v in row)
            for row in oracle[cols].itertuples(index=False, name=None)
        ),
        key=str,
    )
    assert len(got_rows) == len(want_rows), (
        f"row count mismatch: spark={len(got_rows)} oracle={len(want_rows)}"
    )
    for i, (g, w) in enumerate(zip(got_rows, want_rows)):
        assert g == w, f"row {i} mismatch:\n  spark : {g}\n  oracle: {w}"
