"""Sketch-based approximate aggregates — the cardinality/quantile path
that stays cheap at 100 TB.

Exact ``count_distinct`` shuffles every distinct value; exact
percentiles sort whole groups.  Sketches (HyperLogLog++ for NDV, KLL /
Greenwald-Khanna-style for quantiles) are fixed-size mergeable state:
map-side partial sketches, one tiny merge per group, error bounded by
the sketch parameter and independent of data volume.  These wrap Spark's
built-in JVM implementations (``approx_count_distinct``,
``percentile_approx``) — no UDF, codegen-friendly.

The BUILT-IN sketches' approximate results are engine-specific by
construction (a DuckDB HLL gives different low-order estimates), so
their driver evidence is the error-bound contract (sketch_bounds) and
unit tests against exact aggregates.  :func:`portable_hll_ndv` closes
that gap for NDV: an HLL whose hash, registers and estimator are all
engine-replayable, making the estimate itself oracle-checkable.

The persisted NDV and histogram sketch tables keep only their
``ndv.``/``hist.`` stamp keys and their merge folds here; create,
stamp and compaction swap are the persisted-table store's in
:mod:`gdp_etl_spark.io`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import compact_table, create_table, read_stamp, restore_swap


def group_cardinality_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-group approximate NDV via HyperLogLog++ with relative standard
    deviation ``rsd``.  State is O(1/rsd²) per group regardless of group
    size — the only NDV that works on a 100-TB column."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(value_col, rsd).alias("ndv_approx"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _cms_hash(key, row: int, width: int):
    """Row-``row`` CMS bucket of ``key``: first 60 bits of
    md5(row || 0x1f || key) mod width.  md5 + base-16 parse is the
    repo's portable-hash recipe (profile.table_checksum) — DuckDB
    replays it bit-for-bit, so the whole sketch is oracle-checkable."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.lit(str(row)), key.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    return (h % F.lit(width)).cast("int")


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a count-min sketch of ``key_col`` frequencies: a
    ``depth × width`` table of bucket counts, ONE scan of the input.

    The sketch is the fixed-size answer to "how often does each of a
    100-TB column's values occur" when the distinct-key space itself is
    too large to group on: state is ``depth*width`` counters total (not
    per key), partials combine map-side, and the merge of two sketches
    is element-wise addition — the same table unioned and re-summed.
    Estimates (:func:`cms_estimate`) are upper bounds that overshoot by
    at most ``2m/width`` with probability ``1 - 2^-depth``.

    Implementation is pure JVM expressions: each row explodes into
    ``depth`` (row, bucket) pairs via a literal seed array, then one
    map-side-combined ``groupBy``.  No UDF, no second scan, and the
    deterministic md5 bucketing lets DuckDB rebuild the identical
    sketch for the correctness oracle.
    """
    key = F.col(key_col)
    w = F.lit(1) if weight_col is None else F.col(weight_col)
    # NULL keys are excluded: concat_ws silently DROPS null args, so a
    # NULL key would hash identically to the bare row seed and pile all
    # NULL rows onto one bucket per row, inflating any colliding real
    # key's estimate
    df = df.filter(key.isNotNull())
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("sk_row"),
                        _cms_hash(key, i, width).alias("sk_bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb"),
        w.alias("__w"),
    )
    return pairs.groupBy(
        F.col("rb.sk_row").alias("sk_row"),
        F.col("rb.sk_bucket").alias("sk_bucket"),
    ).agg(F.sum("__w").cast("long").alias("sk_count"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the CMS for every row of ``keys``: recompute the
    ``depth`` bucket coordinates, join the (tiny, broadcast) sketch
    table, take the min over rows.  Missing buckets read as 0.  The
    ``depth``/``width`` must match the build call.  NULL probe keys are
    dropped (the sketch never counted them — see count_min_sketch)."""
    key = F.col(key_col)
    keys = keys.filter(key.isNotNull())
    probes = keys.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("sk_row"),
                        _cms_hash(key, i, width).alias("sk_bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb"),
    ).select(key_col, "rb.sk_row", "rb.sk_bucket")
    return (
        probes.join(F.broadcast(sketch), ["sk_row", "sk_bucket"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("sk_count"), F.lit(0)))
            .cast("long")
            .alias("est_count")
        )
    )


def _hll_numerator(p: int) -> float:
    """The portable estimator's numerator α_m·m²·2^(p+53) as ONE double
    literal — sourced here by both the Spark operator and the oracle
    SQL generator so the two sides cannot drift."""
    m = 1 << p
    if m >= 128:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    else:
        alpha = {4: 0.673, 5: 0.697, 6: 0.709}[p]
    return alpha * m * m * float(1 << (p + 53))


def _hll_lc_table(m: int) -> list[int]:
    """Linear-counting estimates ``round(m·ln(m/V))`` for V = 1..m —
    the full (tiny) codomain of HLL's small-range correction, shipped
    as a literal lookup so the oracle replays it without a runtime
    ``ln``.  Computed once in Python, identical on both sides by
    construction."""
    import math

    return [round(m * math.log(m / v)) for v in range(1, m + 1)]


def portable_hll_ndv(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-group NDV via a PORTABLE HyperLogLog — same shuffle shape as
    :func:`group_cardinality_sketch` (map-side partial register maxima,
    one tiny merge per group) but every step is engine-replayable, so
    the estimate itself is oracle-checkable bit-for-bit (the repo's
    md5/fixed-point recipe; DuckDB replays hash, registers AND
    estimator exactly).

    Pipeline, all integers until the final scalar per group:

    1. hash: first 60 bits of md5(value) via base-16 parse (the
       portable-hash recipe — ``conv``/``'0x'||substr`` agree across
       engines);
    2. register index = ``h % m`` (m = 2^p), remainder ``w = h div m``
       ((60−p) bits; non-negative, so Spark ``div`` ≡ DuckDB ``//``);
    3. rho = (60−p+1) − bitlength(w): ``bin``/``conv(…,10,2)`` emit no
       leading zeros in either engine, and w = 0 maps to bitlength 0;
    4. register maxima: groupBy(group, register) → max(rho) — the ONLY
       shuffle, keyed finer than the group so a hot group spreads over
       m reducers (built-in HLL's partial-merge has the same effect);
    5. exact fixed-point register sum S = Σ 2^−rho as the two-limb
       integer ``hi·2^53 + lo`` (hi: rho ≤ p, scaled 2^(p−rho); lo:
       rho > p, scaled 2^(p+53−rho)) — each limb bounded by
       construction (hi ≤ 2^2p, lo ≤ m·2^52), no overflow at p ≤ 11;
    6. estimate E = α_m·m²/S evaluated in ONE double division — IEEE
       +,*,/ are bit-identical across engines, and the numerator
       α_m·m²·2^(p+53) ships as a literal — floored to a BIGINT.

    Small-range correction (the standard linear-counting switch when
    E ≤ 2.5·m and empty registers remain) IS applied, portably:
    ``m·ln(m/V)`` has only m possible values, so it ships as a
    precomputed literal lookup table indexed by V
    (:func:`_hll_lc_table`) — no runtime ``ln``, which is not
    bit-portable.  The 2.5·m switch compares the raw double estimate,
    which both engines compute identically (IEEE +,*,/).  The built-in
    HLL++ (:func:`group_cardinality_sketch`, error-bound-checked by
    the sketch_bounds query) remains the accuracy/perf path.  NULL
    values are ignored, matching ``count(distinct)`` /
    ``approx_count_distinct``.

    Returns group cols + ``(ndv_portable, reg_hi, reg_lo, v_zero,
    n_vals)`` — the register limbs ride along so a checker pins the
    whole register state, not just the rounded estimate.
    """
    regs = portable_hll_registers(df, group_cols, value_col, p)
    return portable_hll_merge(regs, group_cols, p)


def _check_p(p: int) -> int:
    if not 4 <= p <= 11:
        raise ValueError(f"p must be in [4, 11], got {p}")
    return 1 << p


def portable_hll_registers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """The portable HLL's MERGEABLE state: per (group, register) the
    maximum rho plus the value count — ≤ 2^p rows per group regardless
    of group size, the fixed-size sketch property that makes NDV cheap
    at 100 TB.  Persist this frame once at the finest granularity you
    will ever query; :func:`portable_hll_merge` then answers ANY
    coarser grouping (rollup levels, time ranges, unions of sources)
    by max-merging registers — no rescan of the base data, and the
    merged estimate is bit-identical to sketching the coarse group
    directly (max is associative).  Columns: group cols + ``(reg int,
    rho int, n_vals bigint)``."""
    m = _check_p(p)
    wbits = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    hashed = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("__h"))
        .select(
            *group_cols,
            F.pmod(F.col("__h"), F.lit(m)).cast("int").alias("reg"),
            F.expr(f"__h div {m}").alias("__w"),
        )
    )
    bitlen = F.when(F.col("__w") == 0, F.lit(0)).otherwise(
        F.length(F.conv(F.col("__w").cast("string"), 10, 2))
    )
    rho = (F.lit(wbits + 1) - bitlen).cast("int").alias("rho")
    return (
        hashed.select(*group_cols, "reg", rho)
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("rho"), F.count(F.lit(1)).alias("n_vals"))
    )


def portable_hll_merge(
    regs: DataFrame,
    group_cols: Sequence[str],
    p: int = 8,
) -> DataFrame:
    """Estimate NDV per ``group_cols`` from a
    :func:`portable_hll_registers` frame — ``group_cols`` may be any
    SUBSET of the columns the registers were built with (the merge is
    ``max(rho)`` per register, which is exactly how the sketch was
    built, so coarser estimates are bit-identical to direct ones).
    ``n_vals`` merges by sum (total non-null values, NOT distinct).
    Output matches :func:`portable_hll_ndv`."""
    m = _check_p(p)
    numerator = _hll_numerator(p)

    merged = regs.groupBy(*group_cols, "reg").agg(
        F.max("rho").alias("__r"), F.sum("n_vals").alias("__c")
    )

    def pow2(exp_col):
        return F.call_function(
            "shiftleft", F.lit(1).cast("long"), exp_col.cast("int")
        )

    per_group = merged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__nb"),
        F.sum(
            F.when(F.col("__r") <= p, pow2(F.lit(p) - F.col("__r")))
            .otherwise(F.lit(0))
        ).alias("__hi0"),
        F.sum(
            F.when(F.col("__r") > p, pow2(F.lit(p + 53) - F.col("__r")))
            .otherwise(F.lit(0))
        ).alias("reg_lo"),
        F.sum("__c").alias("n_vals"),
    )
    v_zero = (F.lit(m) - F.col("__nb")).cast("long")
    reg_hi = (F.col("__hi0") + v_zero * F.lit(m)).cast("long")
    raw = F.lit(numerator) / (
        F.col("reg_hi").cast("double") * F.lit(float(1 << 53))
        + F.col("reg_lo").cast("double")
    )
    lc = F.array(*[F.lit(v).cast("long") for v in _hll_lc_table(m)])
    est = F.when(
        (F.col("v_zero") > 0) & (F.col("__raw") <= F.lit(2.5 * m)),
        F.element_at(lc, F.col("v_zero").cast("int")),
    ).otherwise(F.floor(F.col("__raw")).cast("long"))
    return (
        per_group.withColumn("v_zero", v_zero)
        .withColumn("reg_hi", reg_hi)
        .withColumn("__raw", raw)
        .select(
            *group_cols,
            est.alias("ndv_portable"),
            "reg_hi",
            "reg_lo",
            "v_zero",
            "n_vals",
        )
    )


def group_quantile_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probabilities: Sequence[float] = (0.5, 0.95, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group approximate quantiles; rank error ≤ 1/``accuracy``.
    Mergeable fixed-size state per group (vs a full sort for exact)."""
    return df.groupBy(*group_cols).agg(
        F.percentile_approx(
            value_col, list(probabilities), accuracy
        ).alias("quantiles_approx"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def source_minhash_overlap(
    df: DataFrame,
    text_col: str,
    group_col: str,
    num_perm: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """Pairwise shingle-set OVERLAP between corpus slices (sources,
    snapshots, languages) estimated from per-slice MinHash signatures
    — the corpus-diagnostics question ("how much of source B is
    already in source A?") answered WITHOUT ever shuffling a shingle.

    The slice signature is the elementwise MIN of its documents'
    signatures (min-hash of a union is the min of the parts' min-
    hashes), so the whole computation is a map-side partial-min
    aggregation to ``|slices| × num_perm`` values, then a tiny
    pairwise zip: fixed-size mergeable state, same scale shape as the
    HLL/KLL sketches above, at any corpus size.  Estimated Jaccard =
    fraction of agreeing components, standard error ≈
    sqrt(J(1−J)/num_perm).

    Unlike the sibling HLL demo, this sketch IS engine-replayable: the
    permutation hash is ``md5(shingle || ':' || perm)`` folded to a
    63-bit bigint (first 15 hex chars), bit-compatible between Spark's
    ``conv`` and DuckDB's hex cast — the oracle replays the ESTIMATE
    exactly, not a bound.  (The near-dup family keeps xxhash64: faster,
    and its oracles compare against exact Jaccard instead.)

    Returns one row per unordered slice pair (a < b) with the match
    count and the Jaccard estimate.
    """
    from ..functions.text import shingles

    sig = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.transform(
                shingles(F.col(text_col), shingle_k),
                lambda s: F.struct(
                    *[
                        F.conv(
                            F.substring(
                                F.md5(F.concat_ws(":", s, F.lit(str(i)))),
                                1, 15,
                            ),
                            16, 10,
                        ).cast("long").alias(f"h{i}")
                        for i in range(num_perm)
                    ]
                ),
            )
        ).alias("__h"),
    ).select(
        "grp", *[F.col(f"__h.h{i}").alias(f"h{i}") for i in range(num_perm)]
    )
    # one partial-min per (slice, perm) — map-side combine collapses
    # each partition to |slices| rows before the only (tiny) shuffle
    mins = sig.groupBy("grp").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_perm)]
    )
    a, b = mins.alias("a"), mins.alias("b")
    matches = sum(
        (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int")
        for i in range(num_perm)
    )
    return (
        a.join(F.broadcast(b), F.col("a.grp") < F.col("b.grp"))
        .select(
            F.col("a.grp").alias("source_a"),
            F.col("b.grp").alias("source_b"),
            matches.alias("n_matches"),
            (matches.cast("double") / F.lit(float(num_perm))).alias(
                "est_jaccard"
            ),
        )
    )


#: TBLPROPERTIES keys stamping an NDV sketch table's parameters —
#: a probe or append under different params is a silently different
#: sketch space, so the stamp makes any mismatch loud (the
#: minhash-index precedent)
_NDV = "ndv."
_NDV_P = _NDV + "p"
_NDV_VALUE = _NDV + "value_col"
_NDV_GROUPS = _NDV + "group_cols"


def write_ndv_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    table: str,
    p: int = 8,
) -> None:
    """Materialize the portable-HLL register state as a metastore
    TABLE — the production shape for NDV over a growing corpus: the
    base data is scanned ONCE per ingest increment
    (:func:`append_to_ndv_sketch`), and any rollup question at any
    later time reads ≤ |groups|·2^p register rows instead of 100 TB
    (:func:`ndv_from_sketch`).  ``group_cols`` may be empty (a global
    NDV sketch).  Parameters are stamped as table properties; appends
    and reads derive them from the stamp, so the sketch space cannot
    silently fork.

    Durability protocol (the store's
    :func:`gdp_etl_spark.io.create_table`): the registers are written
    and stamped under a TMP name, then RENAMED into place — a crash
    between write and stamp can never leave a live-but-stampless (i.e.
    bricked) table, and a failed attempt never blocks a retry."""
    group_cols = list(group_cols)
    bad = [c for c in group_cols if "," in c]
    if bad:
        raise ValueError(f"group column names may not contain ',': {bad}")
    _check_p(p)
    create_table(
        portable_hll_registers(df, group_cols, value_col, p), table,
        stamp={_NDV_P: int(p), _NDV_VALUE: value_col,
               _NDV_GROUPS: ",".join(group_cols)},
    )


def _ndv_stamp(spark, table: str) -> tuple[int, str, list[str]]:
    props = read_stamp(spark, table, _NDV)
    missing = [k for k in (_NDV_P, _NDV_VALUE, _NDV_GROUPS)
               if k not in props]
    if missing:
        raise ValueError(
            f"{table} is not an NDV sketch table (missing properties "
            f"{missing}); create it with write_ndv_sketch"
        )
    groups = props[_NDV_GROUPS]
    return (
        int(props[_NDV_P]),
        props[_NDV_VALUE],
        # ''.split(',') is [''], not [] — a global (no-group) sketch
        # stamps the empty string and must parse back to no columns
        groups.split(",") if groups else [],
    )


def append_to_ndv_sketch(df: DataFrame, table: str) -> None:
    """Fold a NEW data increment into a stamped NDV sketch table: the
    increment's registers simply APPEND — max is associative, so
    merge-on-read (:func:`ndv_from_sketch`) gives estimates
    bit-identical to sketching the full union directly (pinned in
    pytest).  No read-modify-write, no rescan of prior data; run
    :func:`compact_ndv_sketch` occasionally to fold accumulated
    appends back to ≤ |groups|·2^p rows."""
    spark = df.sparkSession
    p, value_col, group_cols = _ndv_stamp(spark, table)
    regs = portable_hll_registers(df, group_cols, value_col, p)
    regs.write.mode("append").saveAsTable(table)


def ndv_from_sketch(
    spark,
    table: str,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """NDV estimates from a stored sketch table at the stamped
    granularity or ANY SUBSET of it (rollups come free from register
    mergeability) — never touches the base data.  Output matches
    :func:`portable_hll_ndv`."""
    p, _, stamped = _ndv_stamp(spark, table)
    keys = stamped if group_cols is None else list(group_cols)
    extra = [c for c in keys if c not in stamped]
    if extra:
        raise ValueError(
            f"group_cols {extra} not in the stamped granularity "
            f"{stamped}; a FINER rollup needs a re-sketch"
        )
    # appends from other sessions/clones: refresh before reading (the
    # repo's catalog-cache rule for appended tables)
    spark.catalog.refreshTable(table)
    return portable_hll_merge(spark.table(table), keys, p)


def compact_ndv_sketch(spark, table: str) -> None:
    """Fold accumulated appends back to one row per (group, register):
    max-merge rho, sum the value counts.

    Durability protocol: the store's compaction swap
    (:func:`gdp_etl_spark.io.compact_table`) — the merged state is
    written AND stamped under a tmp name, then swapped in via metastore
    renames with the original kept as ``__old`` until the swap
    completes, and a crash between the renames is healed on the next
    run — at no crash point is the only copy of the registers gone or
    stampless (an in-place overwrite would risk both, and the base data
    the registers summarize may no longer exist).

    Concurrency: compaction assumes a SINGLE WRITER (the usual batch
    maintenance-window contract; Spark's metastore renames give no
    transactional fence).  As a cheap tripwire, the live table's row
    count is re-checked after the merged tmp write: registers appended
    by another session while the merge ran would otherwise be silently
    dropped with ``__old`` (advisor finding).  The residual window
    between the re-check and the rename remains — that part is the
    single-writer assumption, now explicit."""
    restore_swap(spark, table)
    _, _, group_cols = _ndv_stamp(spark, table)
    compact_table(
        spark, table,
        lambda t: t.groupBy(*group_cols, "reg").agg(
            F.max("rho").alias("rho"),
            F.sum("n_vals").alias("n_vals"),
        ),
        prefix=_NDV,
    )


# ---------------------------------------------------------------------------
# persisted HISTOGRAM sketch tables — the quantile twin of the NDV
# lifecycle above: fixed-width bin counts are trivially mergeable
# (counts ADD, where HLL registers MAX), so write / append /
# merge-on-read / compact follow the identical protocol and any
# percentile question over a growing corpus reads ≤ |groups|·|bins|
# stored rows instead of the base data.  Estimates are exact-rank
# interpolations within a bin, so the error is bounded by bin_width —
# and unlike approx_percentile state, the stored counts are plain
# integers every engine reproduces, keeping the whole lifecycle
# hash-checkable.
# ---------------------------------------------------------------------------

_HIST = "hist."
_HIST_WIDTH = _HIST + "bin_width"
_HIST_VALUE = _HIST + "value_col"
_HIST_GROUPS = _HIST + "group_cols"


def hist_bins(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    bin_width: float,
) -> DataFrame:
    """Fixed-width bin counts ``(group_cols..., bin bigint, n_vals
    bigint)`` — ``bin = floor(value / bin_width)`` (IEEE double
    division: engine-identical for identical literals).  NULL values
    are excluded (a quantile is defined over observed values);
    negative values bin correctly (floor, not truncate)."""
    if not (bin_width > 0):
        raise ValueError(f"bin_width must be > 0, got {bin_width}")
    clash = {"bin", "n_vals"} & set(group_cols)
    if clash:
        raise ValueError(
            f"group columns clash with sketch output columns: "
            f"{sorted(clash)} (rename before sketching)"
        )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            *group_cols,
            F.floor(
                F.col(value_col).cast("double") / F.lit(float(bin_width))
            ).cast("bigint").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n_vals"))
    )


def _hist_stamp(spark, table: str) -> tuple[float, str, list[str]]:
    props = read_stamp(spark, table, _HIST)
    missing = [k for k in (_HIST_WIDTH, _HIST_VALUE, _HIST_GROUPS)
               if k not in props]
    if missing:
        raise ValueError(
            f"{table} is not a histogram sketch table (missing "
            f"properties {missing}); create it with write_hist_sketch"
        )
    groups = props[_HIST_GROUPS]
    return (
        float(props[_HIST_WIDTH]),
        props[_HIST_VALUE],
        groups.split(",") if groups else [],
    )


def write_hist_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    table: str,
    bin_width: float,
) -> None:
    """Materialize fixed-width bin counts as a stamped metastore table
    (the store's create, as in :func:`write_ndv_sketch`: tmp write +
    stamp + rename — never live-but-stampless)."""
    group_cols = list(group_cols)
    bad = [c for c in group_cols if "," in c]
    if bad:
        raise ValueError(f"group column names may not contain ',': {bad}")
    create_table(
        hist_bins(df, group_cols, value_col, bin_width), table,
        stamp={_HIST_WIDTH: repr(float(bin_width)), _HIST_VALUE: value_col,
               _HIST_GROUPS: ",".join(group_cols)},
    )


def append_to_hist_sketch(df: DataFrame, table: str) -> None:
    """Fold a NEW data increment in: bin counts simply APPEND (sums
    are associative), so merge-on-read equals binning the full union
    directly — one scan of the increment, no rescan of prior data."""
    spark = df.sparkSession
    bin_width, value_col, group_cols = _hist_stamp(spark, table)
    hist_bins(df, group_cols, value_col, bin_width).write.mode(
        "append"
    ).saveAsTable(table)


def quantiles_from_hist(
    spark,
    table: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Quantile estimates from the stored bins at the stamped
    granularity or any SUBSET of it (coarser rollups come free from
    count additivity) — never touches the base data.

    Rank rule (engine-portable): the q-quantile is order statistic
    ``ceil(q·n)`` (1-based); the estimate interpolates linearly inside
    the bin holding that rank::

        est = bin·w + w · (target − cum_before) / bin_count

    Every input to the arithmetic is an exact integer (plus the
    stamped width literal), so estimates are bit-identical across
    engines, and the true order statistic provably lies within
    ``bin_width`` of the estimate.  Returns one row per group and q:
    ``(group_cols..., q double, n bigint, est double)``."""
    if not qs:
        raise ValueError("qs must be non-empty")
    for x in qs:
        if not (0.0 < x <= 1.0):
            raise ValueError(f"quantiles must be in (0, 1], got {x}")
    bin_width, _, stamped = _hist_stamp(spark, table)
    keys = stamped if group_cols is None else list(group_cols)
    extra = [c for c in keys if c not in stamped]
    if extra:
        raise ValueError(
            f"group_cols {extra} not in the stamped granularity "
            f"{stamped}; a FINER rollup needs a re-sketch"
        )
    spark.catalog.refreshTable(table)
    merged = (
        spark.table(table)
        .groupBy(*keys, "bin")
        .agg(F.sum("n_vals").alias("n_vals"))
    )
    w_tot = Window.partitionBy(*[F.lit(1)] if not keys else keys)
    w_cum = Window.partitionBy(
        *([F.lit(1)] if not keys else keys)
    ).orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = merged.select(
        *keys,
        "bin",
        "n_vals",
        F.sum("n_vals").over(w_tot).alias("n"),
        F.coalesce(F.sum("n_vals").over(w_cum), F.lit(0)).alias("cum0"),
    )
    qdf = cum.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(float(x)) for x in qs])).alias("q")
    )
    j = cum.crossJoin(F.broadcast(qdf))
    target = F.ceil(F.col("q") * F.col("n")).cast("bigint")
    hit = j.filter(
        (F.col("cum0") < target) & (target <= F.col("cum0") + F.col("n_vals"))
    )
    w = F.lit(float(bin_width))
    est = (
        F.col("bin").cast("double") * w
        + w * (target - F.col("cum0")).cast("double")
        / F.col("n_vals").cast("double")
    )
    return hit.select(*keys, "q", "n", est.alias("est"))


def compact_hist_sketch(spark, table: str) -> None:
    """Fold accumulated appends back to one row per (group, bin) —
    the store's compaction swap (tripwire + single-writer assumption
    as in :func:`compact_ndv_sketch`)."""
    restore_swap(spark, table)
    _, _, group_cols = _hist_stamp(spark, table)
    compact_table(
        spark, table,
        lambda t: t.groupBy(*group_cols, "bin").agg(
            F.sum("n_vals").alias("n_vals")
        ),
        prefix=_HIST,
    )
