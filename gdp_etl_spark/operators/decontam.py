"""Benchmark decontamination: drop/flag training documents that overlap a
held-out evaluation set.

The standard recipe for large-scale training corpora (n-gram collision
against benchmark text, cf. GPT-3 App. C / PaLM / Llama reports): any
training document sharing at least ``min_overlap`` k-token shingles with
the benchmark is contaminated.

Scale shape: the benchmark side is tiny (eval sets are thousands of
rows) → distinct shingle hashes broadcast; the corpus side explodes to
(doc, shingle-hash) pairs that join map-side with NO shuffle of document
text, then partially aggregate per doc id.  Shuffle keys are 8-byte
hashes, never shingle strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdp_etl_spark.functions.text import shingles


def _guarded_id(id_col: str):
    """The doc id as used on every decontamination join key, with a
    data-side NULL guard: aggregated overlap joins back on EQUALITY, so
    a NULL id would never match and a contaminated NULL-id document
    would silently pass every screen (self-review finding) — the exact
    failure these operators exist to prevent.  The guard lives on the
    (id, shingle) explode path, so it fires for precisely the rows that
    carry contamination evidence; shingle-less docs have nothing to
    leak.  Map-side, codegen-friendly."""
    return (
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit(
                    f"decontamination requires non-NULL {id_col!r}: a "
                    "NULL id never equi-joins, so a contaminated doc "
                    "would silently pass the screen; clean ids first"
                )
            ),
        )
        .otherwise(F.col(id_col))
        .alias(id_col)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 8,
    min_overlap: int = 1,
    benchmark_text_col: str | None = None,
) -> DataFrame:
    """``docs`` + ``n_overlap`` (distinct shared shingles) +
    ``is_contaminated`` (n_overlap ≥ min_overlap).

    Callers filter ``~is_contaminated`` to keep the clean corpus; the
    flag form is returned so audits can count/export what was dropped.
    """
    clashes = {"n_overlap", "is_contaminated", "__n", "__h", "__s"} & set(
        docs.columns
    )
    if clashes:
        raise ValueError(
            f"decontaminate output/work columns collide with input "
            f"columns {sorted(clashes)}; rename or drop them first"
        )
    b_text = benchmark_text_col or text_col
    bench_hashes = benchmark_shingle_hashes(benchmark, b_text, shingle_k)
    doc_hashes = docs.select(
        _guarded_id(id_col),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("__s"),
    ).select(id_col, F.xxhash64("__s").alias("__h"))
    overlap = (
        doc_hashes.join(F.broadcast(bench_hashes), "__h")
        .groupBy(id_col)
        .agg(F.count_distinct("__h").alias("__n"))
    )
    return (
        docs.join(overlap, id_col, "left")
        .withColumn("n_overlap", F.coalesce(F.col("__n"), F.lit(0)).cast("int"))
        .drop("__n")
        .withColumn("is_contaminated", F.col("n_overlap") >= F.lit(min_overlap))
    )


def semantic_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    num_bits: int = 4,
    num_tables: int = 4,
    dim: int | None = None,
    seed: str = "sd",
) -> DataFrame:
    """Embedding-space decontamination: corpus rows whose vector is
    near-identical (cosine ≥ ``threshold``) to any benchmark vector —
    catches paraphrased / reformatted eval leakage that exact shingle
    overlap (:func:`decontaminate`) misses.

    Returns the *flagged* corpus rows only: ``(id_col, n_hits bigint,
    max_sim double)`` — ``n_hits`` counts DISTINCT benchmark vectors
    (candidates surfaced by several LSH tables are deduplicated per
    pair) — callers anti-join on ``id_col`` to drop them.

    Recall: a single sign-projection table misses near-threshold pairs
    badly — per-table collision probability is ``(1-acos(c)/pi)^bits``,
    i.e. ≈0.54 at cosine 0.9 with 4 bits, NOT ≈1.  Unioning candidates
    across ``num_tables`` independent tables lifts recall to
    ``1-(1-p)^T``: ≈0.95 at cosine 0.9 with the default 4 tables
    (≈0.9997 at cosine 0.99).  Callers needing hard guarantees should
    raise ``num_tables`` (cost is linear in T on the exploded corpus
    side) — recall at exactly ``threshold`` is the floor; truly
    near-identical leaks collide with probability ≈1.

    Scale shape: both sides get deterministic Rademacher LSH buckets;
    the candidate join is (table, bucket)-equi against the *broadcast*
    benchmark (eval suites are bounded by construction, like the
    shingle-hash broadcast in :func:`decontaminate`), so the corpus
    never shuffles and never sees an all-pairs plan.  The fixed-point
    cosine re-rank (``cosine_exact``) makes every surviving pair — and
    therefore the flag set — engine-exact, so a SQL oracle replays
    buckets AND similarities bit-for-bit.

    ``dim``: without it, one limit-1 peek per side resolves the
    dimension and raises when the sides disagree.  With an explicit
    ``dim`` the peeks are skipped and the dimension is checked per
    non-NULL vector, executor-side, at the first action.  NULL vectors
    are skipped, so a side that is empty or whose vectors are all NULL
    is never checked: a wrong ``dim`` there passes silently (that side
    contributes no candidates either way).
    """
    from ..functions.vectors import cosine_exact_arrow
    from .similarity import rademacher_lsh_buckets

    # dim must be ONE number for both sides: per-side inference on
    # mismatched embeddings (corpus from one model, benchmark from
    # another) raises no error anywhere — buckets rarely collide and
    # any pair that does cosine-folds to NULL, so the function returns
    # an EMPTY frame and the contaminated corpus silently passes
    # (self-review finding).  With an EXPLICIT ``dim`` the peeks are
    # skipped entirely (r16, guide §5 driver hygiene): the per-row
    # ``guard`` filter below already raises on ANY vector — either
    # side — whose size disagrees with ``dim``, which subsumes both the
    # cross-side equality check and the dim-param check; the two
    # limit-1 collects were 2 driver actions (~1.9 s of the 3.0 s
    # semantic_decontam build, measured — each pays the input's
    # repartition exchange) on every call.  Without ``dim`` the peek
    # resolves it: one limit-1 action per side — bounded, the
    # kmeans-stats rule — over NON-NULL vectors only (a NULL in the
    # sampled row makes F.size NULL and the comparison vacuous —
    # advisor finding).  The peek sees ONE row per side, so mixed dims
    # WITHIN a frame get the data-side raise in ``guard``.
    if dim is None:
        d_dim = (
            docs.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col))).limit(1).collect()
        )
        b_dim = (
            benchmark.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col))).limit(1).collect()
        )
        if d_dim and b_dim and d_dim[0][0] != b_dim[0][0]:
            raise ValueError(
                f"embedding dims differ: docs={d_dim[0][0]} "
                f"benchmark={b_dim[0][0]} — decontamination across models "
                "is meaningless; re-embed one side"
            )
        dim_r = d_dim[0][0] if d_dim else None
    else:
        dim_r = dim

    def bucketed(df: DataFrame, alias: str) -> DataFrame:
        # data-side dim validation: rows whose vector size disagrees
        # with the resolved dim would bucket on garbage projections and
        # cosine-fold to NULL — the silent-pass failure again, per-row
        # this time.  NULL vectors stay skippable (a doc without an
        # embedding cannot be semantically screened; the explode drops
        # it), but a WRONG-SIZED one raises.  The check rides a
        # SEPARATE boolean filter column: wrapping vec_col itself in a
        # raise_error CASE measurably slowed the downstream projection
        # fold (~1.5× on semantic_decontam — bench-refresh finding).
        if dim_r is not None:
            guard = F.when(
                F.col(vec_col).isNotNull()
                & (F.size(F.col(vec_col)) != F.lit(dim_r)),
                F.raise_error(
                    F.format_string(
                        f"semantic_decontaminate: embedding of %s dims "
                        f"in a frame resolved to dim {dim_r}; re-embed "
                        f"or split by model",
                        F.size(F.col(vec_col)).cast("string"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
            df = df.filter(guard)
        return (
            rademacher_lsh_buckets(
                df, vec_col, num_bits=num_bits, num_tables=num_tables,
                dim=dim_r, seed=seed, out_col="__b",
            )
            .select(
                F.col(id_col).alias(f"{alias}_id"),
                F.col(vec_col).alias(f"{alias}_vec"),
                F.posexplode("__b").alias("__tbl", "__bkt"),
            )
        )

    d = bucketed(docs, "d")
    b = bucketed(benchmark, "b")
    # r16: Arrow-vectorized pair scoring (bit-identical twin of
    # cosine_exact — guide §4.2): the interpreted dot_fixed folds paid
    # ~5 µs × 3 per candidate PAIR, and the ArrowEvalPython node also
    # acts as the codegen barrier that keeps the fold out of the
    # rademacher bucket projection stage (the r15 norm-precompute trap).
    sim = cosine_exact_arrow(F.col("d_vec"), F.col("b_vec"))
    return (
        d.join(F.broadcast(b), ["__tbl", "__bkt"])
        .withColumn("__sim", sim)
        .filter(F.col("__sim") >= F.lit(threshold))
        # a pair colliding in several tables must count once:
        # count_distinct(b_id) folds the per-pair dedup INTO the one
        # per-doc aggregation (a separate dropDuplicates would add a
        # second full shuffle of the candidate set; max_sim is safe
        # because sim is deterministic per pair)
        .groupBy(F.col("d_id").alias(id_col))
        .agg(
            F.count_distinct(F.col("b_id")).alias("n_hits"),
            F.max("__sim").alias("max_sim"),
        )
    )


def contamination_overlap_fraction(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 8,
    frac_threshold: float = 0.5,
    benchmark_text_col: str | None = None,
) -> DataFrame:
    """Per-document benchmark overlap FRACTION — the GPT-3-appendix /
    PaLM "dirty document" criterion: the share of a document's DISTINCT
    ``shingle_k``-token shingles that occur anywhere in the benchmark,
    flagged dirty at ≥ ``frac_threshold``.  Complements
    :func:`decontaminate` (absolute count): an absolute threshold
    over-flags long documents that quote one benchmark line, while the
    fraction scales the evidence by document size — the criterion the
    published decontamination recipes actually use.

    Returns ``docs`` + ``n_shingles`` (distinct), ``n_overlap``,
    ``overlap_frac`` (NULL for shingle-less docs — too short to carry
    evidence), ``is_dirty`` (always false for shingle-less docs).  The
    threshold compares in integer parts-per-million
    (``n_overlap·10⁶ ≥ floor(t·10⁶)·n_shingles``) — no float boundary,
    and FLOOR so a document exactly AT the threshold is flagged, per
    the documented ≥ semantics (the previous ceil-millis form
    under-flagged a band up to 1 milli wide at fractional thresholds
    like 1/3 — self-review finding; any doc within 1e-6 BELOW the
    threshold now over-flags instead, the fail-closed direction).

    Scale shape: the benchmark reduces to distinct 8-byte xxhash64
    shingle hashes and BROADCASTS (benchmarks are MBs, corpora are TBs);
    the doc side is one explode + ONE groupBy on the id — per-doc
    distinctness folds into ``count_distinct`` so there is a single
    shuffle of the (id, hash) stream, not a distinct() exchange
    followed by a groupBy exchange.  Document bodies never shuffle;
    cost is O(doc shingles), flat in the corpus count like
    :func:`decontaminate` (plan-asserted broadcast in tests).
    """
    clashes = {
        "n_shingles", "n_overlap", "overlap_frac", "is_dirty",
        "__ns", "__no", "__h", "__s", "__hit",
    } & set(docs.columns)
    if clashes:
        raise ValueError(
            f"contamination_overlap_fraction output/work columns collide "
            f"with input columns {sorted(clashes)}; rename or drop them "
            "first"
        )
    t_ppm = int(frac_threshold * 1_000_000)  # floor(t*1e6)
    b_text = benchmark_text_col or text_col
    bench_hashes = benchmark_shingle_hashes(
        benchmark, b_text, shingle_k
    ).withColumn("__hit", F.lit(1))
    doc_hashes = docs.select(
        _guarded_id(id_col),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("__s"),
    ).select(id_col, F.xxhash64("__s").alias("__h"))
    agg = (
        doc_hashes.join(F.broadcast(bench_hashes), "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count_distinct("__h").cast("long").alias("__ns"),
            F.count_distinct(
                F.when(F.col("__hit") == 1, F.col("__h"))
            ).cast("long").alias("__no"),
        )
    )
    return (
        docs.join(agg, id_col, "left")
        .withColumn("n_shingles", F.coalesce(F.col("__ns"), F.lit(0)).cast("long"))
        .withColumn("n_overlap", F.coalesce(F.col("__no"), F.lit(0)).cast("long"))
        .drop("__ns", "__no")
        .withColumn(
            "overlap_frac",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_overlap").cast("double")
                / F.col("n_shingles").cast("double"),
            ),
        )
        .withColumn(
            "is_dirty",
            (F.col("n_shingles") > 0)
            & (
                F.col("n_overlap") * F.lit(1_000_000)
                >= F.lit(t_ppm) * F.col("n_shingles")
            ),
        )
    )


def benchmark_shingle_hashes(
    benchmark: DataFrame, text_col: str, shingle_k: int = 8
) -> DataFrame:
    """The benchmark's distinct shingle-hash set as a 1-column frame
    (``__h`` bigint) — the precomputable half of :func:`decontaminate`,
    factored out so a STREAMING ingest can derive it once instead of
    re-shingling the benchmark every micro-batch.  Benchmark suites are
    bounded by contract (they broadcast), so the set is collectable."""
    return (
        benchmark.select(
            F.explode(shingles(F.col(text_col), shingle_k)).alias("__s")
        )
        .select(F.xxhash64("__s").alias("__h"))
        .distinct()
    )


def screen_contaminated(
    docs: DataFrame,
    bench_hashes: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Admission form of :func:`decontaminate`: return the rows of
    ``docs`` whose distinct-shingle overlap with the benchmark set is
    BELOW ``min_overlap`` (schema preserved; the flagged/audit form is
    :func:`decontaminate`).  ``bench_hashes`` is
    :func:`benchmark_shingle_hashes` output — possibly rebuilt on
    another session (streaming foreachBatch), which is why the hash
    set travels as a frame, not a closure over the benchmark plan.

    Scale shape: the benchmark set broadcasts; the per-doc overlap is
    one map-side explode + broadcast semi-join, and for
    ``min_overlap == 1`` the counting aggregate is skipped entirely —
    any hit disqualifies."""
    if min_overlap < 1:
        # decontaminate(min_overlap=0) flags EVERYTHING contaminated;
        # silently clamping to 1 here would break the documented
        # batch/streaming parity — an admit-nothing screen is a config
        # bug, so say so
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    doc_hashes = docs.select(
        _guarded_id(id_col),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("__s"),
    ).select(id_col, F.xxhash64("__s").alias("__h"))
    hits = doc_hashes.join(F.broadcast(bench_hashes), "__h")
    if min_overlap > 1:
        hits = (
            hits.groupBy(id_col)
            .agg(F.count_distinct("__h").alias("__n"))
            .filter(F.col("__n") >= F.lit(min_overlap))
        )
    contaminated = hits.select(id_col).distinct()
    return docs.join(contaminated, id_col, "left_anti")


def scrub_contaminated_spans(
    docs: DataFrame,
    bench_hashes: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 8,
) -> DataFrame:
    """Span-level decontamination — the surgical sibling of
    :func:`screen_contaminated`: instead of REJECTING a document that
    shares shingles with the benchmark, remove only the tokens covered
    by a contaminated shingle and keep the rest (a 10k-token document
    with one quoted eval question loses ~``shingle_k`` tokens, not the
    document).  Appends ``text_clean`` (surviving tokens rejoined
    single-spaced — token-granularity rebuild, the
    ``token_window_dedup`` caveat) and ``n_removed_tokens``; documents
    with no overlap pass through with their token-normalized text and
    0 removed.  NULL/blank text yields ``''`` and 0.

    Matching is the same recipe as :func:`decontaminate`: lowercased
    whitespace ``shingle_k``-grams, xxhash64 equi-membership against
    the bounded benchmark set — so a doc's contaminated WINDOW STARTS
    are exactly the shingles the screen would count.  A token is
    removed iff some contaminated window covers it.

    Scale shape: the start discovery is one map-side explode +
    broadcast semi-join (only MATCHING (doc, start) pairs — the
    contamination mass, not the corpus — reach the per-doc
    ``collect_set`` shuffle); the removal is a map-only indexed
    ``filter`` whose inner ``exists`` costs O(tokens × matched spans)
    per document — bounded by document size, the budget a map-side
    rule may spend.  The corpus text itself never shuffles.
    """
    from ..functions.text import ws_tokens

    clashes = {"text_clean", "n_removed_tokens", "__spans", "__start",
               "__tl", "__h"} & set(docs.columns)
    if clashes:
        # withColumn would silently OVERWRITE text_clean /
        # n_removed_tokens (e.g. re-feeding a previous scrub's output),
        # and a pre-existing __spans breaks the join — same guard as
        # pack_segments/epoch_shuffle (r10 self-review finding)
        raise ValueError(
            f"scrub_contaminated_spans output columns collide with input "
            f"columns {sorted(clashes)}; rename or drop them first"
        )
    toks_low = ws_tokens(F.lower(F.col(text_col)))
    n = F.size(toks_low)
    starts_idx = F.when(
        n > 0,
        F.sequence(
            F.lit(1), F.greatest(n - F.lit(shingle_k - 1), F.lit(1))
        ),
    ).otherwise(F.array().cast("array<int>"))
    # (doc, start) pairs of contaminated windows; docs shorter than k
    # tokens hash their whole text as one window at start 1 (the
    # shingles() convention), so a short exact-benchmark doc scrubs to
    # empty rather than slipping through.  TOKENLESS docs emit no
    # window at all — without the n > 0 guard they hashed the EMPTY
    # string, relying on the implicit invariant that no caller's
    # bench_hashes frame ever contains xxhash64('') (self-review
    # finding; the function accepts arbitrary hash frames)
    pairs = docs.select(
        _guarded_id(id_col),
        F.explode(starts_idx).alias("__start"),
        toks_low.alias("__tl"),
    ).select(
        id_col,
        "__start",
        F.xxhash64(
            F.concat_ws(
                " ", F.slice(F.col("__tl"), F.col("__start"), shingle_k)
            )
        ).alias("__h"),
    )
    contaminated = (
        pairs.join(F.broadcast(bench_hashes), "__h")
        .groupBy(id_col)
        .agg(F.collect_set("__start").alias("__spans"))
    )
    toks_raw = ws_tokens(F.col(text_col))
    spans = F.coalesce(
        F.col("__spans"), F.array().cast("array<int>")
    )
    kept = F.filter(
        toks_raw,
        lambda t, i: ~F.exists(
            spans,
            lambda s: (s <= i + F.lit(1))
            & (i + F.lit(1) < s + F.lit(shingle_k)),
        ),
    )
    out = (
        docs.join(contaminated, id_col, "left")
        .withColumn("text_clean", F.array_join(kept, " "))
        .withColumn(
            "n_removed_tokens",
            (F.size(toks_raw) - F.size(kept)).cast("int"),
        )
        .drop("__spans")
    )
    return out
