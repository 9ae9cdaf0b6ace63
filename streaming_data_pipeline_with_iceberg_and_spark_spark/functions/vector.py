"""Vector math over ``array<float>`` embedding columns — pure column
expressions, no UDFs and no Python round-trip.

Floats are cast to double before arithmetic so results match engines that
accumulate in double (e.g. DuckDB's list_cosine_similarity oracle).  Each
operation is one higher-order-function fold, ``aggregate(zip_with(…))``:
a sequential left-to-right sum that every oracle mirrors.  ``zip_with``
pads a ragged pair with NULL, so a ragged pair, a NULL element or a NULL
array yields NULL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(vec, lambda x: x.cast("double"))


def _fold(a: Column | str, b: Column | str, term) -> Column:
    terms = F.zip_with(as_double(a), as_double(b), term)
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product: aggregate(zip_with(a, b, *), 0.0, +)."""
    return _fold(a, b, lambda x, y: x * y)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(_fold(a, b, lambda x, y: (x - y) * (x - y)))
