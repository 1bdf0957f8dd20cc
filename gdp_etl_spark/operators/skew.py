"""Skew-mitigation join (salting).

AQE's skew-join splitting handles most skew at runtime, but when one
join key dominates (the classic hot-customer / null-key case) the
deterministic fix is salting: spread the hot key's rows over
``num_salts`` sub-keys and replicate the other side once per salt.
Shuffle volume grows by ``num_salts × |small side|`` and the hot
partition shrinks by ``num_salts×`` — the right trade whenever one
partition would otherwise exceed executor memory.

Result equivalence: for ``inner``/``left``/``left_semi``/``left_anti``
a salted equi-join is row-for-row identical to the plain join (tested);
only the physical partitioning changes.  Joins that preserve unmatched
rows of the REPLICATED side (``right``/``full`` and aliases) are
rejected: the ``other`` side is exploded once per salt, so an unmatched
right row would survive ``num_salts`` times — a silent
row-multiplication wrong answer, not a perf trade.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where the ``skewed`` side's rows are spread over
    ``num_salts`` salt buckets and ``other`` is replicated per salt.

    The salt is a deterministic hash of the skewed side's full row, so
    rows sharing a hot key still scatter across buckets while the same
    input always produces the same partitioning (replayable plans).

    ``how`` must keep unmatched-replicated-side rows out of the result:
    only ``inner``, ``left``(``leftouter``/``left_outer``), ``left_semi``
    (``leftsemi``/``semi``) and ``left_anti`` (``leftanti``/``anti``)
    are accepted.  ``right``/``full``/``outer`` variants would emit each
    unmatched ``other`` row once per salt; raise instead of multiplying
    rows silently.
    """
    safe_hows = {
        "inner",
        "left", "leftouter", "left_outer",
        "semi", "leftsemi", "left_semi",
        "anti", "leftanti", "left_anti",
    }
    normalized = how.lower().replace(" ", "")
    if normalized not in safe_hows:
        raise ValueError(
            f"salted_join: how={how!r} is unsafe — the non-skewed side is "
            f"replicated {num_salts}x, so joins preserving its unmatched rows "
            f"(right/full/outer) would duplicate them per salt. "
            f"Supported: {sorted(safe_hows)}."
        )
    salt = F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in skewed.columns])), F.lit(num_salts)
    ).cast("int")
    left = skewed.withColumn("__salt", salt)
    right = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return left.join(right, [*on, "__salt"], how).drop("__salt")


def grouped_topk(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """EXACT top-``k`` rows per key group, ordered by ``order_col``
    descending (NULLs last) with ``id_col`` ascending as the
    total-order tie-break.

    This is deliberately the PLAIN ``row_number`` window + filter —
    and that is the scale-safe form, which is not obvious: the naive
    reading says the hot key's entire group sorts in one task.  Since
    rank-limit pushdown (SPARK-37099, Spark 3.5+), Catalyst rewrites a
    ``row_number() <= k`` filter into ``WindowGroupLimit`` nodes: a
    PARTIAL pass keeps at most k rows per (key, input partition)
    MAP-SIDE, before the exchange, so the shuffle carries ≤
    k × n_input_partitions rows per key — bounded by k, independent of
    group size — and the final per-key pass touches only those.  A hot
    key at 50% of a 100-TB corpus ships k rows per input split, not
    half the corpus.

    Two hand-rolled "skew-proof" alternatives were built and measured
    against this (see ``tools/probe_grouped_topk.py`` (removed; see commit 480b464)): a salted
    ``collect_list``-array top-k (10× SLOWER at 20M rows — object
    aggregation materializes whole groups as JVM objects and cannot
    spill) and a salted two-level window (strictly more work than
    what WindowGroupLimit already does for free).  The optimizer wins;
    the plan shape is pinned by
    ``tests/test_operators.py::test_grouped_topk_plan_partial_limit``.
    Payload columns are never compared (maps/arrays ride along), any
    orderable ``order_col`` works, and the semantics ARE the window
    form — which is also the DuckDB oracle.
    """
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc_nulls_last(), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
