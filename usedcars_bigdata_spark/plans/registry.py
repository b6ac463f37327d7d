"""Named-query registry backing the driver contract (__spark_entry__.py).

Each query is a callable ``(spark, sf_dir) -> DataFrame`` registered with an
optional DuckDB oracle SQL string. Conventions that make the driver's
order-insensitive value-hash comparison work (see /root/repo/TESTDATA.md):

- every computed column is aliased identically in Spark and SQL;
- floating-point outputs are rounded in-query (both sides) so parallel
  (Spark) vs sequential (DuckDB) summation order cannot flip the hash;
- any top-k / row_number ordering carries a unique tie-break key so the
  selected row *set* is deterministic;
- DuckDB integer sums are cast to BIGINT (DuckDB widens sum(int) to
  HUGEINT, which would break schema comparison).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle=None`` → driver does rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            # A silent overwrite once shadowed a gated query with a stale
            # duplicate (round-5 append of ext_embedding_outliers); fail loud.
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def scratch_dir(
    spark: SparkSession, sf_dir: str, tag: str, fresh: Iterable[str] = ()
) -> str:
    """The scratch directory of an entry that writes files:
    ``<tmp>/usedcars_<tag>_<sf name>_<applicationId>``. Keyed by
    applicationId as well as scale factor, so two concurrent sessions
    against the same sf (a bench overlapping the correctness harness)
    never race overwrite-vs-read on a shared path. Each subdirectory
    named in ``fresh`` is removed, so the run starts it empty — a stale
    checkpoint would mark all input processed and return the previous
    run's output as the answer."""
    base = os.path.join(
        tempfile.gettempdir(),
        f"usedcars_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_"
        f"{spark.sparkContext.applicationId}",
    )
    for d in fresh:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return base
