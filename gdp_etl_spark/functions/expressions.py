"""Column-level expression library (SURVEY.md §2.8 C1-C11).

Everything here is a pure function Column → Column built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen friendly,
zero Python UDFs.  Each function cites the reference behaviour it
re-expresses.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# C7 — banker's rounding
# --------------------------------------------------------------------------
def bankers_round(col: Column, scale: int = 0) -> Column:
    """R ``round()`` is IEC 60559 half-to-even (reference
    ``gpd_etl_pipeline.R:319-323``); Spark's ``F.round`` is HALF_UP, so the
    correct mapping is ``F.bround`` — a real divergence on ``.5`` values."""
    return F.bround(col, scale)


# --------------------------------------------------------------------------
# A1 — NA-dropping sum that yields 0 (not NULL) for all-NULL groups
# --------------------------------------------------------------------------
def sum_na_zero(col: Column | str) -> Column:
    """R ``sum(x, na.rm=TRUE)`` over an all-NA group returns 0; Spark's
    ``sum`` returns NULL (reference ``gpd_etl_pipeline.R:216-218``).
    Aggregated parents must exist even when all children are NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.sum(c), F.lit(0.0))


# --------------------------------------------------------------------------
# C4 — zero-padded code discipline
# --------------------------------------------------------------------------
def pad_code(col: Column | str, width: int = 3) -> Column:
    """``str_pad(x, 3, pad="0")`` (reference ``gpd_etl_pipeline.R:80``):
    codes are zero-padded *strings*; always cast then lpad."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lpad(c.cast("string"), width, "0")


# --------------------------------------------------------------------------
# C1 / C3 — data-driven conditional-overwrite rule engine
# --------------------------------------------------------------------------
def conditional_overwrite(col: Column, rules: Sequence[tuple[Column, object]]) -> Column:
    """Chained ``replace(col, mask, value)`` semantics (reference
    ``gpd_etl_pipeline.R:153-214``: 10 dissolved-economy remaps).  Rules
    apply in order; first matching mask wins; unmatched rows keep ``col``.
    """
    out: Column | None = None
    for mask, value in rules:
        lit = value if isinstance(value, Column) else F.lit(value)
        out = F.when(mask, lit) if out is None else out.when(mask, lit)
    return col if out is None else out.otherwise(col)


def recode(col: Column, mapping: Mapping[object, object], default: Column | None = None) -> Column:
    """``recode()``/``case_when`` value aliasing (reference
    ``gpd_etl_pipeline.R:285-292,534-543``)."""
    out: Column | None = None
    for k, v in mapping.items():
        cond = col == F.lit(k)
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    if out is None:
        return default if default is not None else col
    return out.otherwise(default if default is not None else col)


# --------------------------------------------------------------------------
# F4 — tolerance predicate
# --------------------------------------------------------------------------
def near(a: Column, b: Column, tol: float) -> Column:
    """``dplyr::near(a, b, tol)`` (reference
    ``04-discrepancies-before-last-year.Rmd:94-97``) — NULL-safe would
    differ; the reference relies on NA-propagating comparison, so we do too."""
    return F.abs(a - b) <= F.lit(tol)


# --------------------------------------------------------------------------
# C2 — is.na coalesce idiom
# --------------------------------------------------------------------------
def prefer_new(new: Column, old: Column) -> Column:
    """``ifelse(is.na(x.new), x, x.new)`` (reference
    ``gpd_etl_pipeline.R:369-383``) is exactly ``coalesce``."""
    return F.coalesce(new, old)


# --------------------------------------------------------------------------
# C6 — injectable run-date stamp
# --------------------------------------------------------------------------
def ref_date(run_date: str | None = None) -> Column:
    """``"29-Aug-25"``-style stamp (reference ``gpd_etl_pipeline.R:550-554``).
    ``current_date()`` is non-deterministic; tests inject ``run_date``
    (``YYYY-MM-DD``)."""
    base = F.to_date(F.lit(run_date)) if run_date else F.current_date()
    return F.date_format(base, "d-MMM-yy")


# --------------------------------------------------------------------------
# exact-arithmetic aggregation helpers (cross-engine determinism)
# --------------------------------------------------------------------------
#: decimal wide enough for 100-TB-scale sums of price-like doubles
_DEC = "decimal(28,6)"


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Sum through decimal for exact, order-independent accumulation.

    Double summation is order-dependent, so a shuffled/parallel sum is not
    bit-reproducible run-to-run nor engine-to-engine.  Casting each value
    to decimal(28,6) makes the sum exact (and therefore identical in Spark
    and any oracle engine); the final cast back to double is a single
    correctly-rounded operation.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Cross-engine-deterministic mean: exact decimal sum, cast to double,
    THEN divide by the count.  (Dividing in decimal first would inherit
    each engine's decimal-division scale rules, which differ.)"""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def year_of(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.year(c)


def isin_values(col: Column, values: Iterable[object]) -> Column:
    """F1 IN-filter (reference ``gpd_etl_pipeline.R:131,235``)."""
    return col.isin(list(values))


# --------------------------------------------------------------------------
# r16 — bulk integer literals in ONE parse call
# --------------------------------------------------------------------------
def bigint_array_lit(values: Sequence[int]) -> Column:
    """``array<bigint>`` literal built by ONE SQL parse instead of one
    py4j round trip per element.  ``F.array(*[F.lit(v) ...])`` costs
    ~0.5 ms of driver time PER ELEMENT (each ``F.lit`` is a py4j call),
    so a 1,024-element literal matrix burned ~0.5 s of pure plan
    CONSTRUCTION on every query build — measured on the Rademacher
    sign matrix and the k-means literal centroids (r16); the parsed
    form is ~500× cheaper and value-identical.  Elements are uniformly
    BIGINT (the old per-element form coerced mixed int/long arrays to
    the widest type anyway, and every consumer compares or folds
    against bigint columns)."""
    return F.expr(bigint_array_sql(values))


def bigint_array_sql(values: Sequence[int]) -> str:
    """The SQL text of :func:`bigint_array_lit`, for embedding in a
    larger expression that is parsed once."""
    return f"array({_bigint_elems(values)})"


def _bigint_elems(values: Sequence[int]) -> str:
    """``1L,2L,…`` for a non-empty run of integral values.  An empty
    run would parse as an untyped ``array()``, and ``int(v)`` would
    truncate a fractional value silently — both raise instead."""
    if len(values) == 0:
        raise ValueError("bigint literal: empty array")
    for v in values:
        try:
            integral = int(v) == v
        except (TypeError, ValueError, OverflowError):  # None, NaN, ±Inf
            integral = False
        if not integral:
            raise ValueError(f"bigint literal: {v!r} is not an integer")
    return ",".join(f"{int(v)}L" for v in values)


def bigint_matrix_lit(rows: Sequence[Sequence[int]]) -> Column:
    """``array<array<bigint>>`` literal in one parse call — the
    nested-matrix form of :func:`bigint_array_lit` (literal k-means
    centroids, PQ codebooks, Rademacher sign matrices)."""
    return F.expr(bigint_matrix_sql(rows))


def bigint_matrix_sql(rows: Sequence[Sequence[int]]) -> str:
    """The SQL text of :func:`bigint_matrix_lit`."""
    if len(rows) == 0:
        raise ValueError("bigint literal: empty matrix")
    return f"array({','.join(map(bigint_array_sql, rows))})"
