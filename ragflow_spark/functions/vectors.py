"""Native vector math over ``array<float>`` embedding columns.

Built entirely from ``zip_with``/``aggregate`` higher-order functions —
JVM-side, codegen-friendly, no UDF, no driver collect. The same formulas
exist in DuckDB (``list_dot_product`` / ``list_cosine_similarity``) for the
oracle side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
