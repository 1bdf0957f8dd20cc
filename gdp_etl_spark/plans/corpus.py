"""End-to-end corpus-cleaning plan: the composed LLM-training-data
pipeline built from the operator families (text scoring → filtering →
PII redaction → exact dedup → deterministic sampling).

Stage order is the production order:

1. score on the raw text (quality + language) and filter — cheapest
   first, per-row map work, shrinks everything downstream;
2. redact PII from survivors only (regex chain, map work);
3. exact-dedup on the *redacted* text (two docs differing only in their
   PII are the same training document) — the single shuffle, keyed on
   md5 (16-byte keys);
4. deterministic hash sample — reproducible across runs, engines and
   partitionings, and composable (a 10% sample ⊂ the 20% sample).

Every stage is engine-portable, so the whole chain is oracle-checkable
end to end (``gdp_etl_spark.queries.curation`` registers it as
``corpus_clean``).  The
iterative near-dup clustering stage (``operators.cluster``) deliberately
sits outside this chain — it is rows-only-checkable and its output is a
pair table, not a document filter; compose via an anti-join against its
``duplicate`` ids when near-dup removal is wanted.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import lang_id, quality_score, redact_pii
from ..operators.sampling import hash_sample


def clean_corpus(
    docs: DataFrame,
    min_quality: float = 0.0,
    langs: Sequence[str] | None = ("en",),
    sample_fraction: float | None = None,
    seed: str = "42",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score → filter → redact → dedup → sample; returns
    (doc_id, lang_pred, quality, text_clean)."""
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        quality_score(F.col(text_col)).alias("quality"),
        lang_id(F.col(text_col)).alias("lang_pred"),
    ).filter(F.col("quality") >= F.lit(min_quality))
    if langs is not None:
        d = d.filter(F.col("lang_pred").isin(*langs))
    d = d.withColumn("text_clean", redact_pii(F.col("__text")))
    # keep the lowest doc_id per identical cleaned text — skew-safe:
    # min(doc_id) per 16-byte hash partial-aggregates map-side and the
    # join back is AQE skew-split (a rank window would pin a
    # mega-duplicated text on one unsplittable task).  md5(NULL) is
    # NULL and NULL keys never equi-join, so without the sentinel a
    # NULL-text doc that passed the quality gate would silently vanish
    # here; with it, all NULL texts form one dup group (one survivor).
    d = d.withColumn(
        "__h", F.coalesce(F.md5(F.col("text_clean")), F.lit("NULLTEXT"))
    )
    firsts = d.groupBy("__h").agg(F.min("doc_id").alias("__min_id"))
    d = (
        d.join(firsts, "__h")
        .filter(F.col("doc_id") == F.col("__min_id"))
        .select("doc_id", "lang_pred", "quality", "text_clean")
    )
    if sample_fraction is not None:
        d = hash_sample(d, "doc_id", sample_fraction, seed)
    return d


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_quality: float = 0.8,
    max_dup3: float = 0.6,
    budget: int = 128,
    seed: str = "42",
    decontam_k: int = 8,
    near_dup_threshold: float = 0.8,
) -> DataFrame:
    """The FULL training-corpus curation DAG, every stage from the
    operator library in production order (cheap per-row filters first,
    pair-wise work on survivors only):

    1. quality + repetition filter (per-row map work);
    2. benchmark decontamination (broadcast shingle-hash semi-join);
    3. exact dedup (min-id aggregation on md5 + skew-split join back,
       16-byte keys);
    4. near-dup removal: MinHash-LSH pairs → connected components →
       canonical survivors;
    5. deterministic leak-free train/val/test split;
    6. per-(split, lang) sequence packing (concat-then-chunk windows).

    Returns (doc_id, lang, split, n_tok, seq_id, seq_offset) — the
    manifest a training job consumes.  Every stage is engine-portable:
    the whole DAG has a single DuckDB oracle (``corpus_curate``)."""
    from ..functions.text import dup_ngram_ratio, token_count_ws
    from ..operators.cluster import dedup_clusters
    from ..operators.decontam import decontaminate
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.packing import pack_sequences
    from ..operators.sampling import hash_split

    t = F.col(text_col)
    # filter on the quality expressions directly instead of projecting
    # them first: Catalyst pushes a filter-on-projected-column below the
    # Project by SUBSTITUTING the expression, so the expensive text HOFs
    # would run twice per row (once in Filter, once in Project).  The
    # scores are only needed for admission — never downstream — so one
    # Filter node evaluates each exactly once (measured ~2× on the
    # upstream map stage at sf0.1).
    d = docs.select(
        F.col(id_col),
        F.col(lang_col),
        F.col(text_col),
        token_count_ws(t).cast("int").alias("n_tok"),
    ).filter(
        (quality_score(t) >= min_quality) & (dup_ngram_ratio(t, 3) <= max_dup3)
    )
    d = decontaminate(d, benchmark, text_col, id_col, shingle_k=decontam_k)
    d = d.filter(~F.col("is_contaminated")).drop("n_overlap", "is_contaminated")
    # exact dedup, skew-safe: min(id) per md5 aggregates map-side, the
    # join back is AQE skew-split — no rank window (not AQE-divisible).
    # Sentinel-coalesce the key: md5(NULL) is NULL and would drop
    # NULL-text docs at the join; they group as one duplicate instead.
    d = d.withColumn(
        "__h", F.coalesce(F.md5(F.col(text_col)), F.lit("NULLTEXT"))
    )
    firsts = d.groupBy("__h").agg(F.min(id_col).alias("__min_id"))
    d = (
        d.join(firsts, "__h")
        .filter(F.col(id_col) == F.col("__min_id"))
        .drop("__h", "__min_id")
    )
    # fan-out point: the filtered/decontaminated/deduped frame feeds the
    # LSH pair computation AND the cluster join AND the split/pack tail —
    # persist so the expensive upstream (quality HOFs, shingle semi-join,
    # md5 window) runs once, not once per branch (measured 2× end-to-end
    # at sf0.1; MEMORY_AND_DISK spills rather than recomputes at scale)
    from pyspark.storagelevel import StorageLevel

    d = d.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = minhash_lsh_pairs(
        d, text_col, id_col,
        num_perm=16, bands=8, jaccard_threshold=near_dup_threshold,
    )
    d = dedup_clusters(d, pairs, id_col).filter(F.col("is_canonical")).drop(
        "cluster_id", "is_canonical"
    )
    d = hash_split(d, id_col, seed=seed)
    return pack_sequences(
        d.select(id_col, lang_col, "n_tok", "split"),
        "n_tok", budget, ["split", lang_col], [id_col],
    ).select(id_col, lang_col, "split", "n_tok", "seq_id", "seq_offset")


def source_report(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus health report — the dashboard a curation run
    reads before choosing mixture weights: volume (docs / tokens),
    exact-duplicate rate, mean quality score, and language balance
    (Shannon entropy over the language mix plus the language count).

    One row per source; every statistic is cross-engine deterministic:
    counts are exact, the mean quality runs in floor(·1e9) fixed point
    (the drift_psi/column_entropy precedent), and the entropy
    contributions are fixed-order IEEE expressions over exact counts.

    Scale shape: ONE pass over the corpus feeding two bounded
    aggregations — a per-source agg (count-distinct md5 expands to the
    standard two-phase plan on 16-byte keys) and a (source, lang)
    count rolled up to per-source entropy; both outputs are
    source-count-sized, and the final assembly is a broadcast join of
    two tiny frames.  The one window (the per-source total feeding the
    entropy shares) runs over the (source × lang)-row counts frame —
    statistics-scale, never the corpus; no data-path windows, no
    self-joins, nothing driver-sized.
    """
    from ..functions.text import ws_tokens

    per_doc = docs.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.md5(F.col(text_col)).alias("__h"),
        F.size(ws_tokens(F.col(text_col))).alias("__tok"),
        F.floor(quality_score(F.col(text_col)) * F.lit(1e9))
        .cast("long")
        .alias("__q"),
    )
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("__h").cast("long").alias("n_distinct_texts"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.sum("__q").cast("long").alias("__qsum"),
    )
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    tot = Window.partitionBy("source")
    p = F.col("__n").cast("double") / F.sum("__n").over(tot).cast("double")
    contrib = F.floor(-(p * F.log(p)) * F.lit(1e9)).cast("long")
    ent = (
        lang_counts.withColumn("__c", contrib)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            (F.sum("__c").cast("double") / F.lit(1e9)).alias("lang_entropy"),
        )
    )
    return (
        base.join(F.broadcast(ent), "source")
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            (
                F.lit(1.0)
                - F.col("n_distinct_texts").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
            "n_tokens",
            (
                F.col("__qsum").cast("double")
                / F.lit(1e9)
                / F.col("n_docs").cast("double")
            ).alias("mean_quality"),
            "n_langs",
            "lang_entropy",
        )
    )


def curation_audit(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.8,
    max_dup3: float = 0.6,
    decontam_k: int = 8,
    near_dup_threshold: float = 0.8,
) -> DataFrame:
    """Curation provenance — for EVERY input document, the first
    :func:`curate_corpus` stage that removed it (or ``kept``): the
    audit table that explains corpus shrinkage stage by stage, keeps
    the drop rules tunable against evidence, and answers "why is doc X
    not in the training set" without re-running the pipeline.  Stages
    in the exact admission order of ``curate_corpus``: ``quality`` →
    ``repetition`` → ``decontaminated`` → ``exact_dup`` → ``near_dup``
    → ``kept``; every removal verdict reflects the survivor set of the
    stages before it (a doc that would ALSO be a near-dup reports the
    earlier verdict that actually removed it).

    Returns ``(id_col, quality, verdict)``.

    Scale shape: identical to ``curate_corpus`` — the flags are the
    same predicates that drive its filters (per-row map work, one
    broadcast shingle semi-join, one md5 window, banded LSH on the
    final survivors only), plus one union of bounded removed-id frames
    joined back to the id list.  The survivor chain persists at the
    same fan-out points; nothing here is heavier than the pipeline
    being audited.
    """
    from pyspark.storagelevel import StorageLevel

    from ..functions.text import dup_ngram_ratio
    from ..operators.cluster import dedup_clusters
    from ..operators.decontam import decontaminate
    from ..operators.dedup import minhash_lsh_pairs

    t = F.col(text_col)
    base = docs.select(
        F.col(id_col),
        F.col(text_col),
        quality_score(t).alias("quality"),
        dup_ngram_ratio(t, 3).alias("__d3"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    q_fail = F.col("quality") < F.lit(min_quality)
    r_fail = F.col("__d3") > F.lit(max_dup3)
    removed_quality = base.filter(q_fail).select(
        id_col, F.lit("quality").alias("verdict")
    )
    removed_rep = base.filter(~q_fail & r_fail).select(
        id_col, F.lit("repetition").alias("verdict")
    )
    s1 = base.filter(~q_fail & ~r_fail)
    dec = decontaminate(
        s1, benchmark, text_col, id_col, shingle_k=decontam_k
    )
    removed_decon = dec.filter(F.col("is_contaminated")).select(
        id_col, F.lit("decontaminated").alias("verdict")
    )
    s2 = dec.filter(~F.col("is_contaminated")).drop(
        "n_overlap", "is_contaminated"
    )
    # exact-dup stage, skew-safe (same shape as curate_corpus)
    hashed = s2.withColumn("__h", F.md5(t))
    firsts = hashed.groupBy("__h").agg(F.min(id_col).alias("__min_id"))
    joined = hashed.join(firsts, "__h")
    removed_exact = joined.filter(F.col(id_col) != F.col("__min_id")).select(
        id_col, F.lit("exact_dup").alias("verdict")
    )
    s3 = (
        joined.filter(F.col(id_col) == F.col("__min_id"))
        .drop("__h", "__min_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = minhash_lsh_pairs(
        s3, text_col, id_col,
        num_perm=16, bands=8, jaccard_threshold=near_dup_threshold,
    )
    removed_near = (
        dedup_clusters(s3, pairs, id_col)
        .filter(~F.col("is_canonical"))
        .select(id_col, F.lit("near_dup").alias("verdict"))
    )
    removed = (
        removed_quality.unionByName(removed_rep)
        .unionByName(removed_decon)
        .unionByName(removed_exact)
        .unionByName(removed_near)
    )
    result = (
        base.select(id_col, "quality")
        .join(removed, id_col, "left")
        .withColumn("verdict", F.coalesce("verdict", F.lit("kept")))
    )
    # the audit table is the deliverable (one slim row per doc, the
    # thing a run writes out anyway): materialize it eagerly so both
    # intermediate caches release before returning — the prefix-filter
    # discipline, not the session-lifetime persist
    try:
        result = result.localCheckpoint(eager=True)
    finally:
        s3.unpersist()
        base.unpersist()
    return result


def wet_to_documents(spark, path: str) -> DataFrame:
    """Crawl landing stage: WET records → the repo's ``documents``
    shape, ready for every downstream operator (clean/curate, dedup
    indexes, decontamination, DSIR, packing) — the missing first mile
    between :func:`~gdp_etl_spark.sources.read_wet` and the pipeline.

    Output: ``(doc_id bigint, text, lang, source, n_chars bigint,
    url, fetched_at timestamp)`` — a superset of the synthetic
    ``documents`` table's columns so existing operators take it
    unchanged.  ``doc_id`` is CONTENT-ADDRESSED: ``xxhash64(uri, text)``
    — stable across re-reads and crawls (the same page content at the
    same URI gets the same id; a re-crawl with changed text gets a new
    one), which is what incremental ingest and the dedup indexes key
    on.  ``source`` is the registrable host
    (:func:`~gdp_etl_spark.functions.text.url_host`), the natural
    slice key for source mixing / overlap sketches; ``lang`` is the
    heuristic n-gram language id.

    Everything is per-row map work over the WET scan — no shuffle at
    all; callers chain :func:`clean_corpus` / the dedup screens for
    the stages that do shuffle.  Rows with NULL/blank extracted text
    are dropped (they carry no trainable content and would all collide
    on one hash).
    """
    from ..functions.text import url_host
    from ..sources import read_wet

    wet = read_wet(spark, path)
    return (
        wet.filter(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0)
        .select(
            F.xxhash64(
                F.coalesce(F.col("target_uri"), F.lit("")), F.col("text")
            ).alias("doc_id"),
            "text",
            lang_id(F.col("text")).alias("lang"),
            url_host(F.col("target_uri")).alias("source"),
            F.length("text").cast("bigint").alias("n_chars"),
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetched_at"),
        )
    )
