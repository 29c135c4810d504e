"""Vector expressions over ``array<float>`` embedding columns.

All built on ``zip_with`` / ``aggregate`` higher-order functions: the dot
product and norms run inside the JVM per-row with no Python transfer, so a
brute-force similarity scan is shuffle-free except for the final top-k.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ in double precision, summed left-to-right (deterministic)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a|·|b|); NaN-safe only insofar as inputs are non-zero."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))

