"""SQL-text fragments shared by the expression builders.

Construction-cost note: a py4j round trip costs ~2-3 ms on a loaded
4-core host, so building expressions operator-by-operator (every F.fn
call is >= 1 round trip) dominates plan-construction wall time for
the hot helpers — measured ~5 ms per simple Column op vs ~0.5 ms to
parse a whole subtree with one F.expr. Helpers therefore take column
NAMES and build one SQL string, parsed once. The parsed tree is the
unresolved expression the Column calls would build, up to the names
of lambda variables: a SQL fold binds ``(acc, x)`` where PySpark binds
fresh ``x_N, y_N``. A resolved lambda variable is bound by its
expression id, not its name, so analyzed and optimized plans — and
results — are unchanged (``scripts/capture_plans.py`` normalizes both
the expression ids and the lambda names to show it).

Every value embedded in SQL text goes through ``dbl``: the shortest
round-trip decimal of the double with a ``D`` suffix, so it parses
back to the bit-identical DOUBLE (no suffix would make it DECIMAL).
"""

from __future__ import annotations

from collections.abc import Iterable


def q(name: str) -> str:
    """Quote a column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dbl(x: float) -> str:
    """A DOUBLE literal that parses back to exactly ``float(x)``."""
    return repr(float(x)) + "D"


def dbl_array(xs: Iterable[float]) -> str:
    """An array<double> literal; a foldable CreateArray, one parse
    however many elements (element-wise F.lit costs a round trip each)."""
    return "array(" + ", ".join(dbl(x) for x in xs) + ")"


def dot(a: str, b: str) -> str:
    """Σ a_i·b_i of two array<double> fragments: zip_with, then a
    left-to-right fold (the order DuckDB's list kernels use)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def cosine(a: str, b: str) -> str:
    """Cosine of two numeric-array fragments. NULL (not a
    DIVIDE_BY_ZERO crash under ANSI mode) when either norm is zero."""
    da, db = f"cast({a} as array<double>)", f"cast({b} as array<double>)"
    return f"try_divide({dot(da, db)}, sqrt({dot(da, da)}) * sqrt({dot(db, db)}))"
