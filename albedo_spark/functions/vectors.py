"""Vector math over ``array<float|double>`` columns — pure Column
expressions via higher-order functions (zip_with / aggregate), so the hot
path of similarity search stays JVM-side.

The reference's vector ops are either MLlib-internal (BLAS sdot inside its
hand-rolled ALS top-k, ``S/recommenders/ALSRecommender.scala:39-61``) or tiny
UDFs (``toArrayUDF``, ``S/closures/UDFs.scala:24-26``); here they are
first-class reusable expressions for the embedding-similarity operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length array columns (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_from_norms(a: Column, na: Column, b: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` from their precomputed L2 norms ``na``
    and ``nb`` (norms once per side, never per pair); 0.0 when either
    norm is zero."""
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(
        F.lit(0.0)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))
