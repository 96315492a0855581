"""Query registry: every driver key with its Spark builder and its DuckDB
oracle, registered side by side.

A family module registers a key by decorating its builder::

    @key("a4_metric_deltas", oracle=\"\"\"SELECT ... FROM events ...\"\"\")
    def q_metric_deltas(spark, sf_dir): ...

The builder maps ``(spark, sf_dir)`` to a DataFrame. The oracle is the
DuckDB SQL the driver hash-compares it against: a string, or a
zero-argument callable evaluated each time ``oracles()`` runs (SQL
built by helpers, and the ``generated`` data-derived references).

Keys carry the SURVEY.md §2 inventory ids they prove (``a3_...`` =
aggregate A3) or a family prefix (``s10_`` CDC, ``tpch_``, ``ext_``,
``llm_``, ``mm_``, ``probe_``); there is one module per family, and the
``ext_``/``llm_`` keys are split by the operator module they compose.
Column names are aliased identically in both the Spark plan and the
oracle SQL -- the driver sorts columns by name before hashing.

Cross-engine determinism rules used throughout:
- every timestamp that reaches an output is ms-precision or truncated
  (DuckDB reads the events table as TIMESTAMP_NS; oracles CAST to µs
  TIMESTAMP to match Spark's µs timestamps);
- every aggregated double is round()-ed (2-6 dp) in BOTH engines so
  summation-order ulps cannot flip the hash;
- every top-k / ranked query orders by the *rounded* score with an
  explicit unique tie-breaker.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

# key -> (builder, oracle); filled in module import order
REGISTRY: dict[str, tuple[Callable, str | Callable[[], str | None]]] = {}


def key(name: str, oracle: str | Callable[[], str | None]):
    """Register the decorated builder as query ``name`` with its oracle.
    A name registered twice raises, so a duplicate fails at import."""
    def register(builder):
        if name in REGISTRY:
            raise ValueError(f"query key {name!r} is already registered")
        REGISTRY[name] = (builder, oracle)
        return builder
    return register


def builders() -> dict[str, Callable]:
    return {name: builder for name, (builder, _) in REGISTRY.items()}


def oracles() -> dict[str, str]:
    """Every key's oracle SQL; a generated oracle that failed is left
    out (the driver then falls back to its rows-only check)."""
    out = {}
    for name, (_, oracle) in REGISTRY.items():
        sql = oracle() if callable(oracle) else oracle
        if sql is not None:
            out[name] = sql
    return out


@functools.lru_cache(maxsize=1)
def _duckdb():
    import duckdb

    return duckdb.connect()


def generated(build: Callable) -> Callable[[], str | None]:
    """Oracle computed by ``build(con, sf_dir)`` from the parquet under
    ``ORACLE_SF_DIR`` (default: the driver's comparison scale, sf0.01)
    on a shared in-memory DuckDB connection ``con``, once per
    directory. Used where no SQL can restate the key
    (eigendecompositions, sequential recursions): the oracle is an
    independent Python reference materialized as a VALUES table. Fails
    soft: on any error the key has no oracle."""
    cache: dict[str, str | None] = {}

    @functools.wraps(build)
    def oracle():
        sf = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
        if sf not in cache:
            try:
                cache[sf] = build(_duckdb(), sf)
            except Exception:
                cache[sf] = None
        return cache[sf]
    return oracle


def values_sql(rows, id_sql_type, cols):
    """``(id, int, double)`` rows as a typed DuckDB VALUES table."""
    body = ",\n".join(
        "(%s, %d, %r)" % (r[0], r[1], float(r[2])) for r in rows
    )
    return (
        "SELECT CAST(c0 AS %s) AS %s, CAST(c1 AS INT) AS %s,\n"
        "       CAST(c2 AS DOUBLE) AS %s\n"
        "FROM (VALUES\n%s\n) AS t(c0, c1, c2)"
        % (id_sql_type, cols[0], cols[1], cols[2], body)
    )


# Importing the family modules fills REGISTRY.
from streaming_demos_spark.queries import (  # noqa: E402,F401
    survey, cdc, tpch, ext_relational, ext_stats, ext_graph, ext_sketches,
    ext_curation, llm_curation, llm_dedup, llm_similarity, llm_text,
    llm_selection, llm_training, mm, probe,
)
