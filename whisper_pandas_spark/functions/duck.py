"""Shared DuckDB oracle fragments for vector arithmetic.

A leaf (this module imports nothing from the package), so any queries_*
module can use the fragments at decoration time. Each
fragment is the exact left-fold/double-cast twin of the Spark-side
expression (operators/similarity.py) — values match bit-for-bit, not
merely within tolerance.
"""

from __future__ import annotations


def duck_dot(a: str, b: str) -> str:
    """Left-fold dot product, element order, double casts — Spark-parity."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
    )


def duck_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0, list_transform({a}, "
        f"v -> v::DOUBLE * v::DOUBLE)), (x, y) -> x + y))"
    )


def duck_cos(a: str, b: str) -> str:
    return f"({duck_dot(a, b)} / ({duck_norm(a)} * {duck_norm(b)}))"


def duck_l2sq(a: str, b: str) -> str:
    """Left-fold squared-L2 distance, element order, double casts —
    exact twin of operators/embeddings.py:l2sq."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
        f" * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), (x, y) -> x + y)"
    )
