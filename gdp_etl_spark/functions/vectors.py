"""Vector expressions over embedding columns (``array<float>``).

The built-in higher-order functions (``zip_with`` + ``aggregate``) keep
dot products JVM-side and codegen-compiled — right for per-row scoring
inside a larger plan.  For bulk top-k over millions of vectors the
Arrow-batched numpy path in ``operators/similarity.py`` wins (BLAS matrix
multiply per batch); both produce identical neighbour sets.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hof import bind_once


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double precision (sequential fold → deterministic)."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL if either vector has zero norm."""
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(None).cast("double")).otherwise(
        dot(a, b) / (na * nb)
    )


# --------------------------------------------------------------------------
# fixed-point variants — bit-reproducible across engines and partitionings
# --------------------------------------------------------------------------
#: fixed-point scale: 12 fractional digits.  Unit-ish embedding products
#: stay < ~1e3, so scaled elements < 1e15 < 2^53 (exact in the double
#: before the floor) and a 4096-dim sum < 2^63 (exact in bigint).
_FP_SCALE = 1e12


def dot_fixed(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via fixed-point: each product is floored to 12 decimals and
    accumulated as an exact bigint sum.  Double summation is
    order-dependent; integer accumulation makes the result independent of
    partitioning AND identical in any engine following the same recipe
    (the DuckDB oracle mirrors it as
    ``list_sum(list_transform(..., floor(x*y*1e12)::bigint)) / 1e12``)."""
    prods = F.zip_with(
        _to_double(a), _to_double(b), lambda x, y: F.floor(x * y * F.lit(_FP_SCALE))
    )
    return (
        F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, x: acc + x).cast("double")
        / F.lit(_FP_SCALE)
    )


def cosine_exact(a: Column, b: Column) -> Column:
    """Cross-engine-deterministic cosine: fixed-point dot products, one
    final double sqrt/divide; NULL if either norm is zero."""
    na2, nb2 = dot_fixed(a, a), dot_fixed(b, b)
    return F.when((na2 <= 0) | (nb2 <= 0), F.lit(None).cast("double")).otherwise(
        dot_fixed(a, b) / (F.sqrt(na2) * F.sqrt(nb2))
    )


def cosine_exact_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized twin of :func:`cosine_exact` — bit-identical
    values, different evaluation strategy: the three ``dot_fixed``
    folds are CodegenFallback higher-order functions interpreted at
    ~5 µs per PAIR, so bulk pair scoring (candidate joins in
    decontamination / near-dup / top-k paths) pays per-pair
    interpretation that dominates the stage at any scale.  This twin
    ships each pair's vectors across the Python boundary once as Arrow
    batches and runs the identical fixed-point recipe vectorized in
    numpy: per element ``floor((x·y)·1e12)`` in IEEE double (exact
    below 2⁵³), exact int64 accumulation, one final sqrt/divide — the
    same arithmetic the ``_semantic_dedup_cells`` block scorer pinned
    bit-exact in r15.

    NULL semantics match the JVM fold: NULL on either side, mismatched
    lengths, a NULL element anywhere, or a non-positive self-norm all
    yield NULL.  (Caveat shared with the dedup block scorer: a real
    NaN/Inf *float value* inside a vector — which the fixed-point
    contract already excludes, and which would break the DuckDB oracle
    mirrors on the JVM path too — is treated as a NULL element here,
    where the interpreted fold would coerce its term to 0.)

    Use this for bulk pair scoring AFTER a join; keep
    :func:`cosine_exact` for single-row / plan-bound uses where adding
    a Python node is not worth the boundary."""
    import pandas as pd  # local: keep the expression module import-light

    # NOTE: the module's `from __future__ import annotations` stringifies
    # type hints, and pyspark's typehint parser cannot resolve the
    # function-local `pd` from a string — so annotations are attached as
    # real objects after the def, before the pandas_udf wrap.
    def _cos(va, vb):
        import numpy as np

        n = len(va)
        out = np.full(n, np.nan, dtype=np.float64)
        valid = np.zeros(n, dtype=bool)
        av, bv = va.to_numpy(), vb.to_numpy()
        groups: dict[int, list[int]] = {}
        for i in range(n):
            x, y = av[i], bv[i]
            if x is None or y is None or len(x) != len(y):
                continue
            groups.setdefault(len(x), []).append(i)
        for dim, idxs in groups.items():
            if dim == 0:
                continue  # empty vectors: self-norm 0 -> NULL
            ii = np.asarray(idxs, dtype=np.intp)
            A = np.stack([np.asarray(av[i], dtype=np.float64) for i in idxs])
            B = np.stack([np.asarray(bv[i], dtype=np.float64) for i in idxs])
            # NULL elements arrive as NaN; the JVM fold nullifies the
            # whole sum for them, so those pairs stay NULL — and so do
            # ±Inf elements.  Zero the rows before the int64 cast
            # (NaN/Inf -> int64 is undefined).
            ok = np.isfinite(A).all(axis=1) & np.isfinite(B).all(axis=1)
            A = np.where(ok[:, None], A, 0.0)
            B = np.where(ok[:, None], B, 0.0)
            na2 = np.floor((A * A) * _FP_SCALE).sum(axis=1, dtype=np.int64) / _FP_SCALE
            nb2 = np.floor((B * B) * _FP_SCALE).sum(axis=1, dtype=np.int64) / _FP_SCALE
            dab = np.floor((A * B) * _FP_SCALE).sum(axis=1, dtype=np.int64) / _FP_SCALE
            ok &= (na2 > 0) & (nb2 > 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                res = dab / (np.sqrt(np.abs(na2)) * np.sqrt(np.abs(nb2)))
            out[ii[ok]] = res[ok]
            valid[ii[ok]] = True
        arr = pd.array(out, dtype="Float64")
        arr[~valid] = pd.NA
        return pd.Series(arr)

    _cos.__annotations__ = {
        "va": pd.Series, "vb": pd.Series, "return": pd.Series,
    }
    return F.pandas_udf("double")(_cos)(a, b)


def l2_normalize(a: Column) -> Column:
    """Unit-norm vector as ``array<double>``; NULL for zero/NULL norm.
    The norm comes from the fixed-point self-dot (``dot_fixed``), so the
    divisor — and therefore every element — is bit-identical across
    engines and partitionings."""
    # bind the self-dot ONCE per row (bind_once): captured in the
    # transform lambda it would re-fold the whole vector per ELEMENT —
    # O(dim²) per row
    return bind_once(
        dot_fixed(a, a),
        lambda n2: F.when(
            n2 <= 0, F.lit(None).cast("array<double>")
        ).otherwise(F.transform(_to_double(a), lambda x: x / F.sqrt(n2))),
    )


def quantize_int8(a: Column) -> Column:
    """Symmetric int8 quantization: scale = 127/max|x|, elements →
    ``floor(x·scale + 0.5)`` (explicit half-up; engine ``round`` tie
    rules differ).  NULL for all-zero vectors."""
    # bind max|x| ONCE per row (bind_once; captured it re-scans the
    # vector per element — O(dim²))
    return bind_once(
        F.array_max(F.transform(_to_double(a), F.abs)),
        lambda mx: F.when(mx <= 0, F.lit(None).cast("array<int>")).otherwise(
            F.transform(
                _to_double(a),
                lambda x: F.floor(x * (F.lit(127.0) / mx) + F.lit(0.5)).cast("int"),
            )
        ),
    )


def random_projection(a: Column, out_dim: int, seed: str = "rp") -> Column:
    """Signed random projection to ``out_dim`` dims:
    ``out[j] = Σᵢ sign(md5(i:j:seed)) · aᵢ`` — the JL-sketch used for
    cheap embedding compression and LSH preprocessing.

    Determinism recipe (mirrors ``dot_fixed``): elements are floored to
    fixed-point bigints, the ±1 sign comes from the parity of the first
    hex digit of a portable md5, and accumulation is exact integer —
    reproducible across engines, partitionings, and executors."""
    ad = _to_double(a)
    even = ("0", "2", "4", "6", "8", "a", "c", "e")

    def comp(j: int) -> Column:
        signed = F.transform(
            ad,
            lambda x, i: F.floor(x * F.lit(_FP_SCALE)).cast("bigint")
            * F.when(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", i.cast("string"), F.lit(str(j)), F.lit(seed)
                        )
                    ),
                    1,
                    1,
                ).isin(*even),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("bigint"),
        )
        return (
            F.aggregate(signed, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
            .cast("double")
            / F.lit(_FP_SCALE)
        )

    return F.array(*[comp(j) for j in range(out_dim)])
