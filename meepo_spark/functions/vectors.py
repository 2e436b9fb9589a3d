"""Vector kernels over ARRAY<FLOAT> embedding columns — dot product,
norms, cosine — as JVM-side higher-order functions (SURVEY.md §2.B L3).

All math promotes to DOUBLE before accumulating so results are
bit-comparable with DuckDB's DOUBLE[] list functions; the fold is
sequential left-to-right in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance as a sequential float64 fold —
    bit-matches DuckDB's list_distance² (modulo its sqrt roundtrip),
    the property the k-means/IVF oracles (l3g/l3j/l3k) rely on."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed per-row norms — identical arithmetic to
    ``cosine`` (dot / (norm·norm), so results stay bit-comparable with
    the DuckDB oracle) but in a q×c pair join the two norm folds run
    once per ROW instead of once per PAIR, cutting the higher-order
    -function work per pair from three 64-element folds to one."""
    return dot(a, b) / (na * nb)
