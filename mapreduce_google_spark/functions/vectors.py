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


def cosine_similarity_checked(
    a: Column | str, b: Column | str, context: str = "cosine_similarity"
) -> Column:
    """:func:`cosine_similarity` that fails LOUDLY on a degenerate input
    instead of propagating a non-finite value (ADVICE r16, widened to
    the FULL non-finite contract in r18 per ADVICE r17): the fused
    Arrow IVF kernel raises on ANY non-finite cosine — zero norms AND
    NaN/Inf components — so the JVM-side form it is equality-pinned
    against must fail on the same inputs. A NaN component propagates to
    a NaN norm product and an Inf component to an Inf (or, times a zero
    norm, NaN) product, so guarding the norm product covers every
    component-level degeneracy: raise when ``isnan(denom) | denom == 0 |
    denom == Inf``. ``raise_error`` runs inside the JVM expression — no
    extra pre-scan pass over the embeddings, and zero cost on the
    non-degenerate path.

    A NEW function rather than a guard inside :func:`cosine_similarity`
    itself: the unchecked expression sits in six oracle-bearing
    builders (t24/t122/t145/t151/t158/t165) whose NaN-free behavior on
    real corpora is already certified, and whose inputs can never trip
    the guard.
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(
        F.isnan(denom) | (denom == 0) | (denom == F.lit(float("inf"))),
        F.raise_error(
            F.concat(
                F.lit(f"zero-norm or non-finite embedding in {context}: "),
                F.lit("|a|*|b| is 0, NaN, or Inf "),
                F.lit("(cosine undefined; clean the corpus or drop the row)"),
            )
        ).cast("double"),
    ).otherwise(dot(a, b) / denom)
