"""Vector column expressions — dot product / cosine, codegen-friendly.

``dot_unrolled`` is an explicit ``v[1]*u[1] + ... + v[d]*u[d]`` expression
with a FIXED left-to-right float summation order, so results are
bit-identical across engines and partitionings. It stays inside
whole-stage codegen (a ``F.aggregate`` fold is interpreted per element,
~100x too slow inside an O(n^2) pair loop); the DuckDB oracle uses the
same unrolled SQL (:func:`dot_sql_unrolled`) so the arithmetic matches
term for term.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, functions as F


def dot_unrolled(a: str | Column, b: str | Column, dim: int) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    out = F.element_at(ca, 1) * F.element_at(cb, 1)
    for i in range(2, dim + 1):
        out = out + F.element_at(ca, i) * F.element_at(cb, i)
    return out


def dot_sql_unrolled(a: str, b: str, dim: int) -> str:
    """DuckDB twin of :func:`dot_unrolled` — identical term order."""
    terms = [f"{a}[{i}] * {b}[{i}]" for i in range(1, dim + 1)]
    return "(" + " + ".join(terms) + ")"


def norm_unrolled(v: str | Column, dim: int) -> Column:
    """L2 norm as a scalar column (unrolled sum). Precompute this once per
    row and express cosine as dot(a,b)/(norm_a*norm_b): same FLOPs as
    pre-normalized arrays, but no nested array lambda — a nested
    ``transform(v, x -> x/norm)`` re-evaluates the norm subtree per element
    in Spark's interpreted higher-order-function path (~64x blowup)."""
    cv = F.col(v) if isinstance(v, str) else v
    return F.sqrt(dot_unrolled(cv, cv, dim))


def norm_sql_unrolled(v: str, dim: int) -> str:
    return f"sqrt({dot_sql_unrolled(v, v, dim)})"


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH, as plain literals.

    Rounded to 6 decimals so that rendering them into SQL text parses to
    bit-identical doubles in any engine (strtod is correctly rounded).
    """
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)
    ]
