"""Vector math over ``array<float>`` embedding columns — all native
higher-order functions (zip_with/aggregate), evaluated JVM-side with no
Python round-trip. Accumulation is an ordered left fold, so results are
bit-reproducible across engines and partitionings (unlike a parallel sum).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: str | Column, b: str | Column) -> Column:
    """Ordered-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sq_dist(a: str | Column, b: str | Column) -> Column:
    """Ordered-fold squared Euclidean distance in double precision —
    the raw-space geometry the IVF coarse quantizer assigns cells in,
    so probe ranking can use the identical metric."""
    return F.aggregate(
        F.zip_with(
            _c(a),
            _c(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
