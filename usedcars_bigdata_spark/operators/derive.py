"""Column-derivation operators (SURVEY.md §2.8 F-group + §2.10 U-group).

The reference's Python UDFs (categorize_description,
data-understanding.py:131-147; luxury_udf, recomendation-system.py:105-112)
are re-expressed as native ``when``/``rlike`` Column expressions — the
pattern its own `country()` helper already used
(recomendation-system.py:67-86). Native expressions stay inside whole-stage
codegen and keep predicate pushdown alive; the Python-UDF parity forms live
in functions/scalar.py behind a flag.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def when_chain(cases: Sequence[tuple[Column, str]], default: str | None = None) -> Column:
    """U3-style builder: ordered (condition, value) pairs → one native
    CASE WHEN chain (recomendation-system.py:67-86)."""
    expr: Column | None = None
    for cond, value in cases:
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    assert expr is not None, "when_chain needs at least one case"
    return expr.otherwise(F.lit(default))


def categorize_by_keywords(
    text_col: str | Column,
    categories: Sequence[tuple[str, Sequence[str]]],
    default: str,
    lower_keywords: bool = True,
) -> Column:
    """U1 native rewrite: first category whose keyword list matches the
    (lowercased) text wins; NULL text → default, like the reference's
    None-handling (data-understanding.py:131-147).

    ``lower_keywords=False`` reproduces the reference's EXACT comparison
    (raw keyword vs lowered text, ``kw in description.lower()``) — under
    which a mixed-case keyword can never match. The reference's own
    ``'carMax'`` entry (data-understanding.py:131) is dead for precisely
    this reason; parity forms must keep it dead rather than "fix" it by
    lowering (same reproduce-don't-repair treatment as the adj-R² bug)."""
    c = F.lower(F.col(text_col) if isinstance(text_col, str) else text_col)
    cases = []
    for name, keywords in categories:
        pred = F.lit(False)
        for kw in keywords:
            pred = pred | c.contains(kw.lower() if lower_keywords else kw)
        cases.append((pred, name))
    return when_chain(cases, default)


def regexp_extract_col(
    df: DataFrame, src: str, pattern: str, group: int, alias: str, cast: str | None = None
) -> DataFrame:
    """F2: regexp_extract (4-digit-year extraction,
    data-understanding.py:190). Empty match → NULL after cast."""
    col = F.regexp_extract(F.col(src), pattern, group)
    if cast:
        col = F.nullif(col, F.lit("")).cast(cast)
    return df.withColumn(alias, col)


def add_json_field(
    df: DataFrame, src: str, path: str, alias: str, cast: str | None = None
) -> DataFrame:
    """Engine built-in: extract a JSON field from a string column
    (events.props in the harness). get_json_object is JVM-native."""
    col = F.get_json_object(F.col(src), path)
    if cast:
        col = col.cast(cast)
    return df.withColumn(alias, col)


def add_monotonic_index(df: DataFrame, alias: str = "index") -> DataFrame:
    """F10: non-contiguous but monotonically increasing unique id — no
    shuffle, no single-task sort (data-viz&cleaning.py:88 wants contiguity;
    see operators.window.zip_index for that)."""
    return df.withColumn(alias, F.monotonically_increasing_id())
