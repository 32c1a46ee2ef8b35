"""Vector math over ``array<float>`` embedding columns.

Pure column expressions (``zip_with`` + ``aggregate``) — the dot
product runs inside codegen, no Python round-trip. Elements are cast
to double *before* accumulation so results are reproducible across
engines (and match a DuckDB ``DOUBLE[]`` oracle bit-for-bit up to
summation order; left-to-right in both).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(F.zip_with(_d(a), _d(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_from_norms(a: Column | str, b: Column | str,
                      a_n: Column | str, b_n: Column | str) -> Column:
    """Cosine similarity from precomputed norms; 0.0 when either norm
    is zero. Pair stages precompute ``norm()`` once per vector, so the
    per-pair work is one dot; the expression tree is the one
    ``cosine`` builds, so the doubles are bit-identical either way."""
    a_n = F.col(a_n) if isinstance(a_n, str) else a_n
    b_n = F.col(b_n) if isinstance(b_n, str) else b_n
    return F.when((a_n > 0) & (b_n > 0),
                  dot(a, b) / (a_n * b_n)).otherwise(F.lit(0.0))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    return cosine_from_norms(a, b, norm(a), norm(b))
