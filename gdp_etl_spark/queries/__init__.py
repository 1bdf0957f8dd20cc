"""The query registry: each driver query registers here beside its oracle.

A family module ``gdp_etl_spark/queries/<family>.py`` defines a query as
a builder ``q_<name>(spark, sf_dir) -> DataFrame`` decorated with
``@query(oracle=...)``, where the oracle is DuckDB SQL over the same
parquet tables that must return the same rows.  This file imports no
family: ``__spark_entry__`` imports them all, and a Python worker that
unpickles a function from one family imports only that family.

Cross-engine determinism rules used throughout (see
``gdp_etl_spark.functions.expressions`` / ``vectors``):

* summed doubles go through ``decimal(28,6)`` in BOTH engines (double
  summation is order-dependent; decimal accumulation is exact),
* dot products use fixed-point bigint accumulation (``floor(x*y*1e12)``),
* counts/lengths are cast so Spark INT ↔ DuckDB BIGINT defaults agree,
* no ``round()`` on doubles (engines differ in edge rounding); raw IEEE
  expressions are evaluated in the same textual order instead.
"""

from __future__ import annotations

from collections.abc import Callable

#: query name -> (builder, oracle SQL), in registration order
REGISTRY: dict[str, tuple[Callable, str]] = {}


def query(*, oracle: str):
    """Register the decorated ``q_<name>`` builder as query ``<name>``
    with its oracle SQL; a name registered twice raises ``ValueError``."""

    def register(fn):
        if not fn.__name__.startswith("q_"):
            raise ValueError(f"query builder {fn.__name__!r} must be named q_<name>")
        name = fn.__name__[2:]
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY[name] = (fn, oracle)
        return fn

    return register
