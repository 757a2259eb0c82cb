"""Johnson–Lindenstrauss random projection — the dimensionality-reduction
step a 100 TB embedding pipeline runs BEFORE clustering / ANN so every
downstream shuffle carries 4× fewer bytes (``operators/embpipeline.py``
projects with it).

The projection maps ``embedding: array<float>[64]`` to 16 dimensions with
a deterministic ±1 sign matrix (Achlioptas 2003, "Database-friendly random
projections": entries in {±1} preserve the JL guarantee while needing only
adds — no gaussian draws, no float matrix).  The matrix derives from md5 of
the (row, col) index pair at import time (python hashlib == the same bytes
everywhere) and is embedded as a plan LITERAL on both engines — the
refit-literal oracle pattern (``operators/pq.py`` precedent).  Embedding
elements are integer-scaled map-side (``floor(v*1e6 + 0.5)`` micro-units,
the SCALING.md §2 float discipline), so the projection is an all-BIGINT
``zip_with``/``aggregate`` fold — bit-exact across engines, no float-sum
ordering hazard, zero shuffles, zero UDFs.

JL preserves distances to (1±ε), so it preserves neighbourhoods exactly
when neighbours are separated from non-neighbours; on isotropic data it
does not.  At 10^12 rows the projection costs one scan and shrinks every
byte the ANN/SemDeDup family shuffles or broadcasts by ``D/d = 4×``; the
sign matrix is ~1k literal ints in the plan — nothing is fit, nothing is
collected.
"""

from __future__ import annotations

import hashlib
from typing import List

__all__ = ["sign_matrix", "D_IN", "D_OUT"]

D_IN = 64
D_OUT = 16
_SCALE = 1_000_000


def sign_matrix(d_out: int = D_OUT, d_in: int = D_IN) -> List[List[int]]:
    """Deterministic ±1 matrix, row j = output dim: sign(j, i) = +1 iff the
    first md5 byte of ``"jl:j:i"`` is even.  hashlib md5 is the same bytes
    on every platform, so Spark literal == DuckDB literal by construction."""
    return [
        [
            1 if hashlib.md5(f"jl:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def _signs_spark() -> str:
    rows = ", ".join(
        "array(" + ", ".join(f"{s}L" for s in row) + ")" for row in sign_matrix()
    )
    return f"array({rows})"


def _signs_duck() -> str:
    return (
        "[" + ", ".join("[" + ", ".join(str(s) for s in row) + "]" for row in sign_matrix()) + "]"
    )


# micro-unit quantization of the float embedding — identical both engines
_US_SPARK = f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {_SCALE} + 0.5) AS BIGINT))"
_US_DUCK = f"list_transform(embedding, v -> CAST(floor(v::DOUBLE * {_SCALE} + 0.5) AS BIGINT))"


def _proj_spark() -> str:
    """The projection as a Spark SQL expression over ``embedding``:
    ``array<bigint>[D_OUT]`` in micro-units."""
    return (
        f"transform(sequence(0, {D_OUT - 1}), j -> "
        f"aggregate(zip_with({_US_SPARK}, element_at({_signs_spark()}, j + 1), "
        f"(x, s) -> x * s), 0L, (a, x) -> a + x))"
    )


def _proj_duck() -> str:
    """DuckDB twin of :func:`_proj_spark`."""
    return (
        f"list_transform(range(1, {D_OUT + 1}), j -> "
        f"list_sum(list_transform(list_zip({_US_DUCK}, ({_signs_duck()})[j]), "
        f"p -> p[1] * p[2])))"
    )
