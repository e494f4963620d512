"""Vector column helpers — cosine/dot as built-in column expressions.

The double-precision result must be bitwise-identical to a sequential
C++ loop (DuckDB's list_dot_product) for oracle parity, AND the
expression must stay fast. Round-10 measurements (3M pairs, 64-dim
float arrays, local[32]):

- interpreted zip_with/aggregate FOLD: ~100 µs per evaluation — the
  per-CALL lambda machinery dominates, so an 8-dim fold costs nearly
  the same as a 64-dim one;
- UNROLLED ``e1·f1 + …`` element_at chain: whole-stage-codegen FAST up
  to ~16 terms (0.9 s / 3M), then falls off the JIT cliff (generated
  method too large; 24 terms → 13 s, 64 terms → 34 s — WORSE than the
  fold);
- SCALARIZED: project each side's array into per-dim DOUBLE columns
  first (per-ROW cost, splitExpressions keeps methods JIT-able), then
  the per-PAIR expression is pure column arithmetic — 64 terms stay
  codegen'd (4 s / 3M including the join).

So ``dot`` unrolls only for dim ≤ _UNROLL_MAX (16) and otherwise keeps
the sequential fold; pair-quadratic hot paths that need 64-dim dots
scalarize explicitly (see sim_ann_ivf). Every formulation is the same
left-associated IEEE order (``0.0 + t1`` is exactly ``t1``), so results
are bit-identical across all of them and to DuckDB.

Operands may be Columns, SQL text (column name / fragment), or a
literal vector as a Python list — text operands build the expression
as ONE ``F.expr`` (the 64-term py4j Column assembly costs ~4k gateway
round-trips ≈ 0.8 s of driver time per dot).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_DIM = 64  # the embeddings-table dimension the similarity tier uses
_UNROLL_MAX = 16  # beyond this the unrolled chain falls off the JIT cliff


def _as_sql(x) -> str | None:
    """SQL text for an operand when statically renderable: a column
    name / SQL fragment passed as str, or a literal vector as a Python
    list (rendered with D-suffixed double literals — ``repr(float)`` is
    the shortest round-trip form, so the parsed double is bit-identical
    to the Python value)."""
    if isinstance(x, str):
        return x
    if isinstance(x, (list, tuple)):
        return "array(" + ", ".join(f"{float(v)!r}D" for v in x) + ")"
    return None


def dot_sql(a_sql: str, b_sql: str, dim: int = DEFAULT_DIM) -> str:
    """Dot product as SQL text, in sequential-fold IEEE order: unrolled
    when small enough to stay JIT-able, the fold otherwise."""
    if dim <= _UNROLL_MAX:
        return "(" + " + ".join(
            f"(CAST(element_at({a_sql}, {i}) AS DOUBLE)"
            f" * CAST(element_at({b_sql}, {i}) AS DOUBLE))"
            for i in range(1, dim + 1)
        ) + ")"
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) ->"
        f" CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D,"
        f" (acc, v) -> acc + v)"
    )


def dot(a, b, dim: int | None = DEFAULT_DIM) -> Column:
    """Double dot product of two float/double arrays, in sequential-fold
    IEEE order (see module docstring for the three formulations)."""
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    sa, sb = _as_sql(a), _as_sql(b)
    if sa is not None and sb is not None:
        return F.expr(dot_sql(sa, sb, dim))
    if dim <= _UNROLL_MAX:
        a_c, b_c = _col(a), _col(b)
        expr = None
        for i in range(1, dim + 1):
            term = (
                F.element_at(a_c, i).cast("double")
                * F.element_at(b_c, i).cast("double")
            )
            expr = term if expr is None else expr + term
        return expr
    return F.aggregate(
        F.zip_with(
            _col(a), _col(b),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _col(x) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.expr(x)
    return F.lit(list(x))


def norm(a, dim: int | None = DEFAULT_DIM) -> Column:
    sa = _as_sql(a)
    if dim is not None and sa is not None:
        return F.expr(f"sqrt({dot_sql(sa, sa, dim)})")
    return F.sqrt(dot(a, a, dim))


def cosine(a, b, dim: int | None = DEFAULT_DIM) -> Column:
    sa, sb = _as_sql(a), _as_sql(b)
    if dim is not None and sa is not None and sb is not None:
        return F.expr(
            f"{dot_sql(sa, sb, dim)} / (sqrt({dot_sql(sa, sa, dim)})"
            f" * sqrt({dot_sql(sb, sb, dim)}))"
        )
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def cosine_with_norms(a, b, norm_a, norm_b, dim: int | None = DEFAULT_DIM) -> Column:
    """Cosine reusing precomputed norms (one norm pass per table instead of
    per pair — the only sane form when pairing N×M vectors)."""
    sa, sb = _as_sql(a), _as_sql(b)
    sna, snb = _as_sql(norm_a), _as_sql(norm_b)
    if dim is not None and None not in (sa, sb, sna, snb):
        return F.expr(f"{dot_sql(sa, sb, dim)} / ({sna} * {snb})")
    return dot(a, b, dim) / (_col(norm_a) * _col(norm_b))
