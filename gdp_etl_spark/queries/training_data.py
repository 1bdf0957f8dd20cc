"""Training-data layout: shards, deterministic splits and samples, sequence
packing, batching, curriculum ordering and preference pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import (
    lang_case, _pii_red_text, quality, _TOKS_RAW,
)


@query(oracle="""
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR length(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(trim(text), '\\s+')
                     END AS t
              FROM documents
            ),
            sized AS (
              SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0
            ),
            starts AS (
              SELECT doc_id, t, n,
                     unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT))) AS i
              FROM sized
            )
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_id,
                   array_to_string(t[i*16 + 1 : i*16 + 32], ' ')
                     AS chunk_text,
                   CAST(least(32, n - i*16) AS INT) AS chunk_tokens
            FROM starts
            WHERE least(32, n - i*16) >= 1
        """)
def q_doc_chunks(spark, sf_dir):
    """Sliding-window chunking (packing.chunk_documents): every document
    maps to overlapping 32-token windows at stride 16 — the RAG /
    embedding-indexing chunk shape.  Map-only: tokenize once, build the
    finished chunk structs in one projection, explode; zero shuffles,
    zero Python, and downstream embedding/indexing stages inherit the
    scan's partitioning unchanged."""
    from gdp_etl_spark.operators.packing import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), "text", "doc_id", size=32, stride=16
    )


@query(oracle="""
            WITH h AS (
              SELECT doc_id,
                     md5(CAST(doc_id AS VARCHAR) || ':' || '42') AS hh
              FROM documents
            ),
            s AS (
              SELECT doc_id, hh,
                     CAST(CAST('0x' || substr(hh, 1, 8) AS BIGINT) % 16
                          AS INT) AS shard_id
              FROM h
            )
            SELECT doc_id, shard_id,
                   CAST(row_number() OVER (
                     PARTITION BY shard_id ORDER BY hh, doc_id) AS BIGINT)
                     AS shard_pos
            FROM s
        """)
def q_shard_assign(spark, sf_dir):
    """Deterministic training-shard layout (layout.shard_assignment):
    shard id and within-shard position are pure functions of
    (doc_id, seed) — reproducible data ordering and resumable epoch
    offsets.  Map-only assignment (one md5 feeds both shard id and
    order key) + ONE n_shards-partition window — the same shuffle the
    layout write performs anyway."""
    from gdp_etl_spark.operators.layout import shard_assignment

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shard_assignment(docs, "doc_id", n_shards=16, seed="42")


@query(oracle=f"""
            SELECT CAST(CAST('0x' || substr(
                     md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8)
                     AS BIGINT) % 16 AS INT) AS shard_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKS_RAW})) AS BIGINT) AS n_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars,
                   CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
                        AS BIGINT) AS content_checksum
            FROM documents GROUP BY 1
        """)
def q_shard_manifest(spark, sf_dir):
    """Per-shard manifest (layout.shard_manifest): docs / tokens /
    chars per shard for trainer epoch budgeting plus an
    order-independent content checksum (sum of 32-bit text-hash
    prefixes).  Map-only hashing + ONE groupBy into 16 groups — no
    window, no sort; output is n_shards rows at any corpus size."""
    from gdp_etl_spark.operators.layout import shard_manifest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return shard_manifest(docs, "doc_id", "text", n_shards=16, seed="42")


@query(oracle=f"""
            WITH d AS (
              SELECT doc_id, lang, CAST(len({_TOKS_RAW}) AS INT) AS n_tok
              FROM documents),
            b AS (
              SELECT *,
                     CASE WHEN n_tok <= 1 THEN 0
                          ELSE CAST(ceil(ln(CAST(n_tok AS DOUBLE))
                               / ln(CAST(1.25 AS DOUBLE))) AS INT)
                     END AS length_bucket
              FROM d),
            c AS (
              SELECT *,
                     CAST(least(CAST(2048 AS BIGINT),
                          CAST(ceil(power(CAST(1.25 AS DOUBLE),
                               length_bucket)) AS BIGINT)) AS INT)
                       AS bucket_cap
              FROM b),
            r AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY lang, length_bucket
                       ORDER BY doc_id) - 1 AS rn,
                     -- floor(): DuckDB CAST(double AS BIGINT) ROUNDS
                     -- where Spark truncates
                     CAST(floor(CAST(2048 AS DOUBLE) / bucket_cap)
                          AS BIGINT) AS rpb
              FROM c)
            SELECT doc_id, lang, n_tok, length_bucket, bucket_cap,
                   CAST(floor(CAST(rn AS DOUBLE) / rpb) AS BIGINT)
                     AS batch_id,
                   CAST(rn % rpb AS BIGINT) AS batch_slot
            FROM r
        """)
def q_length_batches(spark, sf_dir):
    """Pad-efficiency batching (packing.length_bucketed_batches):
    geometric length buckets (growth 1.25 → ≤20% intra-bucket padding
    waste) then per-(lang, bucket) deterministic chop into batches of
    floor(budget / bucket_cap) rows — the document-preserving sibling
    of pack_sequences for SFT/eval workloads."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.packing import length_bucketed_batches

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_ws(F.col("text")).cast("int").alias("n_tok")
    )
    return length_bucketed_batches(
        d, "n_tok", 2048, ["lang"], ["doc_id"]
    ).select(
        "doc_id", "lang", "n_tok", "length_bucket", "bucket_cap",
        "batch_id", "batch_slot",
    )


@query(oracle="""
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 8))
                       AS BIGINT)
                  < CASE WHEN lang = 'en' THEN 429496729
                         WHEN lang = 'de' THEN 4294967296
                         ELSE 2147483648 END
        """)
def q_hash_sample(spark, sf_dir):
    """Deterministic stratified sampling: md5-bucket thresholds per
    stratum — same rows in or out across runs, engines and
    partitionings (RNG sampling is none of those)."""
    from gdp_etl_spark.operators.sampling import stratified_hash_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_hash_sample(
        d, "doc_id", "lang",
        fractions={"en": 0.1, "de": 1.0}, default_fraction=0.5, seed="42",
    )


@query(oracle="""
            SELECT doc_id, lang,
                   CASE WHEN b < 3865470566 THEN 'train'
                        WHEN b < 4080218931 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, lang,
                         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                              || ':' || '42'), 1, 8)) AS BIGINT) AS b
                  FROM documents)
        """)
def q_hash_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test split: hash-bucket thresholds
    per doc — leak-free and reproducible across engines/partitionings
    (RNG splits are neither)."""
    from gdp_etl_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(d, "doc_id", seed="42")


@query(oracle=f"""
            WITH d AS (
              SELECT doc_id, lang, CAST(len({_TOKS_RAW}) AS INT) AS n_tok
              FROM documents),
            s AS (
              SELECT *,
                     CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tok AS BIGINT) AS start
              FROM d)
            SELECT doc_id, lang, n_tok,
                   CAST(floor(start / 512.0) AS BIGINT) AS seq_id,
                   CAST(start % 512 AS BIGINT) AS seq_offset
            FROM s
        """)
def q_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing: per-language token stream in
    doc_id order cut into 512-token training sequences — one window per
    shard, no global sort."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_ws(F.col("text")).cast("int").alias("n_tok")
    )
    return pack_sequences(d, "n_tok", 512, ["lang"], ["doc_id"]).select(
        "doc_id", "lang", "n_tok", "seq_id", "seq_offset"
    )


@query(oracle=f"""
            WITH d AS (
              SELECT doc_id, lang, CAST(len({_TOKS_RAW}) AS INT) AS w
              FROM documents),
            s AS (
              SELECT *,
                ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                     || ':' || 'ws'), 1, 8)) AS BIGINT) + 1)
                   / 4294967296.0) / w AS score
              FROM d WHERE w > 0)
            SELECT doc_id, lang, w FROM s
            ORDER BY score DESC, doc_id LIMIT 50
        """)
def q_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sampling without replacement: 50
    docs drawn ∝ token count, fully deterministic (hash-uniform draw),
    planned as TakeOrderedAndProject — never a global sort."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_ws(F.col("text")).cast("int").alias("w")
    )
    return weighted_sample(d, "doc_id", "w", k=50)


# same md5-bucket rank replayed: hash_sample's portable recipe
@query(oracle="""
            SELECT doc_id, lang, source FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY CAST(concat('0x', substring(md5(
                                  concat_ws(':', CAST(doc_id AS VARCHAR),
                                            'pg')), 1, 8)) AS BIGINT),
                                doc_id) AS rk
              FROM documents) t
            WHERE rk <= 5
        """)
def q_sample_per_group(spark, sf_dir):
    """Balanced stratified downsampling (sampling.sample_per_group):
    exactly min(5, |group|) documents per (lang, source) stratum,
    drawn by content-hash rank so the draw is deterministic across
    runs/engines and uncorrelated with ingestion order — the per-group
    -quota complement to rate sampling.  One window shuffle."""
    from gdp_etl_spark.operators.sampling import sample_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sample_per_group(d, ["lang", "source"], "doc_id", 5)


# chain construction gives the closed-form component (min of the
# chain); split replays hash_split's md5-bucket thresholds on
# the CLUSTER id
@query(oracle="""
            WITH c AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 <= 2
                          THEN doc_id - doc_id % 10
                          ELSE doc_id END AS cluster_id
              FROM documents
            )
            SELECT doc_id, cluster_id,
                   CASE WHEN b < 3865470566 THEN 'train'
                        WHEN b < 4080218931 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, cluster_id,
                         CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)
                              || ':' || '42'), 1, 8)) AS BIGINT) AS b
                  FROM c)
        """)
def q_cluster_split(spark, sf_dir):
    """Cluster-aware leak-free split (sampling.cluster_safe_split):
    near-dup chains of three (doc, doc+1, doc+2 for every %10==0 doc)
    must land in ONE split — the split key is the cluster's canonical
    (minimum reachable) id, so near-identical documents can never
    straddle train/test (memorization read as generalization).  The
    oracle derives cluster ids from FIRST PRINCIPLES of the chain
    construction and replays hash_split's md5-bucket rule on them."""
    from gdp_etl_spark.operators.sampling import cluster_safe_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    roots = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    pairs = roots.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    ).unionByName(
        roots.select(
            (F.col("doc_id") + 1).alias("id_a"),
            (F.col("doc_id") + 2).alias("id_b"),
        )
    )
    return cluster_safe_split(docs, pairs, "doc_id").select(
        "doc_id", "cluster_id", "split"
    )


# the grouped_ntile contract: bit-identical to windowed ntile
# over the same (hash, id) total order; tile runs -> labels
@query(oracle="""
            WITH t AS (
              SELECT doc_id, lang,
                     ntile(10) OVER (PARTITION BY lang
                       ORDER BY CAST(('0x' || substr(md5(
                         CAST(doc_id AS VARCHAR) || ':split'), 1, 8))
                         AS BIGINT), doc_id) AS tile
              FROM documents)
            SELECT doc_id, lang,
                   CASE WHEN tile <= 8 THEN 'train'
                        WHEN tile = 9 THEN 'val'
                        ELSE 'test' END AS split
            FROM t
        """)
def q_stratified_split(spark, sf_dir):
    """EXACT-proportion stratified split (sampling.stratified_split):
    every language is hash-ordered and ntile-cut 8/1/1 into
    train/val/test — quotas are exact to ntile granularity WITHIN each
    stratum (hash_split's Bernoulli gates only hit them in
    expectation, which an eval set cannot accept).  The ntile is the
    de-skewed grouped_ntile (range partitions + prefix sums — ntile
    has no WindowGroupLimit rescue), bit-identical to the windowed
    form the oracle replays."""
    from gdp_etl_spark.operators.sampling import stratified_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_split(
        d, "doc_id", "lang", {"train": 8, "val": 1, "test": 1}
    )


# the md5 epoch fold + per-shard rank replayed verbatim
@query(oracle="""
            WITH e AS (
              SELECT doc_id, 0 AS epoch,
                     md5(CAST(doc_id AS VARCHAR) || ':0:epoch') AS h
              FROM documents
              UNION ALL
              SELECT doc_id, 1,
                     md5(CAST(doc_id AS VARCHAR) || ':1:epoch')
              FROM documents
            )
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 8
                        AS INT) AS shard,
                   CAST(row_number() OVER (
                     PARTITION BY epoch,
                       CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 8
                     ORDER BY h, doc_id) AS INT) AS position,
                   CAST(epoch AS INT) AS epoch
            FROM e
        """)
def q_epoch_shuffle(spark, sf_dir):
    """Reproducible per-epoch corpus shuffle + sharding
    (sampling.epoch_shuffle): every epoch serves the same rows in a
    different but fully deterministic (engine-replayable md5) order —
    shard = hash(id:epoch) mod 8, position = rank of the hash within
    the shard.  Epochs 0 and 1 are unioned to pin that re-folding the
    epoch yields an independent permutation.  The only non-map work is
    the per-shard rank, whose partitions are hash-uniform and sized by
    the caller's shard count."""
    from gdp_etl_spark.operators.sampling import epoch_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        epoch_shuffle(d, "doc_id", epoch=0, n_shards=8)
        .unionByName(epoch_shuffle(d, "doc_id", epoch=1, n_shards=8))
        .select("doc_id", "shard", "position", "epoch")
    )


# global spanning packing: one window cumsum over the md5-fold
# order + range unnest per (doc, pack) segment — the de-skewed
# two-pass prefix-sum on the Spark side is bit-identical to it
@query(oracle=f"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR len(trim(text)) = 0
                          THEN 0 ELSE len({_TOKS_RAW}) END AS nt,
                     md5(CAST(doc_id AS VARCHAR) || ':0:pack') AS h
              FROM documents),
            c AS (
              SELECT doc_id, CAST(nt AS BIGINT) AS nt,
                     CAST(COALESCE(SUM(nt) OVER (ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS b
              FROM d WHERE nt > 0),
            seg AS (
              SELECT doc_id, b, b + nt AS e,
                     unnest(range(b // 128, (b + nt - 1) // 128 + 1))
                       AS pack_id
              FROM c)
            SELECT doc_id, pack_id,
                   greatest(b, pack_id * 128) - b AS doc_offset,
                   greatest(b, pack_id * 128) - pack_id * 128
                     AS pack_offset,
                   least(e, (pack_id + 1) * 128)
                     - greatest(b, pack_id * 128) AS seg_tokens
            FROM seg
        """)
def q_pack_segments(spark, sf_dir):
    """GPT-style spanning sequence packing (packing.pack_segments —
    the global, de-skewed sibling of pack_sequences' per-shard
    first-token tagging): documents lay end to end in the reproducible
    md5-fold order and the token stream cuts into exact 128-token
    training sequences — one row per (doc, pack) SEGMENT with in-doc
    and in-pack offsets; docs span pack boundaries (zero padding
    waste), every pack but the last is exactly full.  The global
    token-offset cumsum is the two-pass prefix-sum (range partitions +
    broadcast offsets), never a single-partition global window; all
    arithmetic is pure integer on the portable hash order, so the
    oracle replays the layout with one window cumsum + range unnest."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.packing import pack_segments

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return pack_segments(d, "doc_id", "n_tokens", seq_len=128)


# serving path composed: corpus_clean fragments -> hash_split
# train threshold -> pack cumsum+unnest replay over the CLEANED
# token counts
@query(oracle=f"""
            WITH scored AS (
                SELECT doc_id, text, {quality} AS quality,
                       {lang_case} AS lang_pred
                FROM documents
            ), kept AS (
                SELECT doc_id, lang_pred, quality,
                       {_pii_red_text} AS text_clean
                FROM scored WHERE quality >= 0.85 AND lang_pred IN ('en')
            ), dedup AS (
                SELECT doc_id, text_clean FROM kept
                QUALIFY row_number()
                        OVER (PARTITION BY md5(text_clean)
                              ORDER BY doc_id) = 1
            ), train AS (
                SELECT doc_id, text_clean FROM dedup
                WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || ':' || '42'), 1, 8)) AS BIGINT)
                      < 3865470566
            ), d AS (
                SELECT doc_id,
                       CASE WHEN text_clean IS NULL
                            OR len(trim(text_clean)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text_clean),
                                                        '\\s+'))
                       END AS nt,
                       md5(CAST(doc_id AS VARCHAR) || ':0:pack') AS h
                FROM train
            ), c AS (
                SELECT doc_id, CAST(nt AS BIGINT) AS nt,
                       CAST(COALESCE(SUM(nt) OVER (ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS BIGINT) AS b
                FROM d WHERE nt > 0
            ), seg AS (
                SELECT doc_id, b, b + nt AS e,
                       unnest(range(b // 128, (b + nt - 1) // 128 + 1))
                         AS pack_id
                FROM c)
            SELECT doc_id, pack_id,
                   greatest(b, pack_id * 128) - b AS doc_offset,
                   greatest(b, pack_id * 128) - pack_id * 128
                     AS pack_offset,
                   least(e, (pack_id + 1) * 128)
                     - greatest(b, pack_id * 128) AS seg_tokens
            FROM seg
        """)
def q_train_batches(spark, sf_dir):
    """The SERVING path end to end — the trainer-side mirror of
    crawl_corpus' ingest-side composition: clean_corpus (quality gate,
    language routing, PII redaction, exact dedup) → hash_split train
    slice (leak-free, engine-replayable thresholds) → pack_segments
    over the CLEANED token counts (spanning 128-token training
    sequences in the reproducible md5-fold order).  One query proves
    corpus curation feeds batch materialization unchanged; the oracle
    composes the corpus_clean CTE fragments, the hash_split threshold
    rule and the pack cumsum+unnest replay — a regression in ANY stage
    breaks the hash.  Scale: each stage keeps its individually-probed
    shape (skew-safe dedup agg, map-only split, two-pass prefix-sum
    packing)."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.packing import pack_segments
    from gdp_etl_spark.operators.sampling import hash_split
    from gdp_etl_spark.plans.corpus import clean_corpus

    d = _t(spark, sf_dir, "documents")
    cleaned = clean_corpus(d, min_quality=0.85, langs=("en",))
    train = hash_split(cleaned, "doc_id", seed="42").filter(
        F.col("split") == "train"
    )
    toks = train.select(
        "doc_id", token_count_ws(F.col("text_clean")).alias("n_tokens")
    )
    return pack_segments(toks, "doc_id", "n_tokens", seq_len=128)


@query(oracle=f"""
            WITH s AS (
                SELECT doc_id, {quality} AS difficulty FROM documents
            ), r AS (
                SELECT doc_id, difficulty,
                       row_number() OVER (ORDER BY difficulty, doc_id)
                         - 1 AS r0,
                       COUNT(*) OVER () AS n
                FROM s
            ), st AS (
                SELECT doc_id, difficulty,
                       CAST(r0 * 4 // n AS INT) AS stage,
                       md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS h
                FROM r
            ), p AS (
                SELECT *, row_number() OVER (ORDER BY stage, h, doc_id)
                          - 1 AS pos
                FROM st
            ), q AS (
                SELECT *, pos - MIN(pos) OVER (PARTITION BY stage) AS rel
                FROM p
            )
            SELECT doc_id, difficulty, stage,
                   CAST(CAST(stage AS BIGINT) * 1000000000
                        + rel // 16 AS BIGINT) AS batch_id,
                   CAST(rel % 16 AS INT) AS pos_in_batch
            FROM q
        """)
def q_curriculum(spark, sf_dir):
    """Curriculum data ordering (sampling.curriculum_stages, Bengio et
    al. 2009): documents ranked easy→hard by the deterministic quality
    score, cut into 4 exact equal-count stages, md5-shuffled WITHIN
    each stage, and laid out as stage-pure 16-doc batches whose global
    batch_id order walks the curriculum.  Both global rankings use the
    two-pass prefix-sum row-id recipe (no single-partition window);
    all layout arithmetic is integer, so the oracle replays rank →
    stage cut → shuffle → batch numbering exactly."""
    from gdp_etl_spark.functions.text import quality_score
    from gdp_etl_spark.operators.sampling import curriculum_stages

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("difficulty")
    )
    return curriculum_stages(
        d, "difficulty", "doc_id", n_stages=4, batch_size=16
    )


# DPO/RLHF preference pairs: per-prompt argmax/argmin replay
@query(oracle=f"""
            WITH s AS (
                SELECT doc_id, doc_id // 5 AS prompt_id,
                       {quality} AS score
                FROM documents
            ), c AS (
                SELECT prompt_id, doc_id, score,
                       row_number() OVER (PARTITION BY prompt_id
                         ORDER BY score DESC, doc_id ASC) AS rc,
                       row_number() OVER (PARTITION BY prompt_id
                         ORDER BY score ASC, doc_id ASC) AS rr
                FROM s
            )
            SELECT ch.prompt_id, ch.doc_id AS chosen_id,
                   rj.doc_id AS rejected_id,
                   ch.score AS chosen_score, rj.score AS rejected_score,
                   ch.score - rj.score AS gap
            FROM (SELECT * FROM c WHERE rc = 1) ch
            JOIN (SELECT * FROM c WHERE rr = 1) rj USING (prompt_id)
            WHERE ch.doc_id <> rj.doc_id
              AND ch.score - rj.score >= CAST(0.02 AS DOUBLE)
              AND ch.score - rj.score > CAST(0 AS DOUBLE)
        """)
def q_preference_pairs(spark, sf_dir):
    """Preference-pair construction for reward-model / DPO training
    (operators/preference.py — the InstructGPT comparison-collection
    step): documents grouped into 5-response "prompts" (doc_id div 5),
    scored with the deterministic quality score, and paired
    best-vs-worst per prompt with min-id tie-breaks and a 0.02
    minimum gap.  ONE struct-ordered max_by/min_by aggregate —
    map-side partial, the group never materializes (the "all
    comparisons" mode is a group-keyed self-join with a loud
    max_group_size guard, pytest-covered).  The oracle replays the
    argmax/argmin via the two row_number windows; all-double
    arithmetic is shared with the quality oracle, hash-exact."""
    from gdp_etl_spark.functions.text import quality_score
    from gdp_etl_spark.operators.preference import preference_pairs

    d = _t(spark, sf_dir, "documents").select(
        F.expr("doc_id div 5").alias("prompt_id"),
        F.col("doc_id"),
        quality_score(F.col("text")).alias("score"),
    )
    return preference_pairs(
        d, "prompt_id", "doc_id", "score", mode="extreme", min_gap=0.02
    )


# curriculum -> stage-pure packing: the curriculum layout replay
# extended with per-stage token cumsum + segment unnest
@query(oracle=f"""
            WITH s AS (
                SELECT doc_id, {quality} AS difficulty,
                       CASE WHEN text IS NULL OR length(trim(text)) = 0
                            THEN 0 ELSE len({_TOKS_RAW}) END AS nt
                FROM documents
            ), r AS (
                SELECT doc_id, nt,
                       row_number() OVER (ORDER BY difficulty, doc_id)
                         - 1 AS r0,
                       COUNT(*) OVER () AS n
                FROM s
            ), st AS (
                SELECT doc_id, nt,
                       CAST(r0 * 4 // n AS INT) AS stage,
                       md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS h
                FROM r
            ), p AS (
                SELECT *, row_number() OVER (ORDER BY stage, h, doc_id)
                          - 1 AS pos
                FROM st
            ), q AS (
                SELECT doc_id, nt, stage,
                       pos - MIN(pos) OVER (PARTITION BY stage) AS rel
                FROM p
            ), o AS (
                SELECT doc_id, stage, CAST(nt AS BIGINT) AS nt,
                       CAST(SUM(nt) OVER (PARTITION BY stage
                            ORDER BY rel) - nt AS BIGINT) AS srel
                FROM q WHERE nt > 0
            ), segs AS (
                SELECT doc_id, stage, nt, srel,
                       unnest(range(srel // 128,
                                    (srel + nt - 1) // 128 + 1)) AS pk
                FROM o
            )
            SELECT doc_id, CAST(stage AS INT) AS stage,
                   CAST(stage AS BIGINT) * 1000000000 + pk AS pack_id,
                   CAST(GREATEST(srel, pk * 128) - srel AS BIGINT)
                     AS doc_offset,
                   CAST(GREATEST(srel, pk * 128) - pk * 128 AS BIGINT)
                     AS pack_offset,
                   CAST(LEAST(srel + nt, (pk + 1) * 128)
                        - GREATEST(srel, pk * 128) AS BIGINT)
                     AS seg_tokens
            FROM segs
        """)
def q_curriculum_batches(spark, sf_dir):
    """Curriculum ordering composed into the SERVING path
    (sampling.curriculum_stages → packing.pack_segments_staged): the
    difficulty ramp survives batch materialization — documents rank
    easy→hard, cut into 4 stages, md5-shuffle within stage, and the
    token stream packs into 128-token training sequences SEPARATELY
    per stage, so no pack ever mixes two difficulty stages and
    consuming packs in pack_id order replays the curriculum exactly
    (property-pinned in pytest).  Scale: both global rankings and the
    token cumsum are two-pass prefix-sums (no single-partition
    window); the per-stage re-base is a 4-row driver aggregate.  The
    oracle replays rank → stage cut → shuffle → batch layout → per-
    stage cumsum → segment unnest; a regression in ANY stage breaks
    the hash."""
    from gdp_etl_spark.functions.text import quality_score, token_count_ws
    from gdp_etl_spark.operators.packing import pack_segments_staged
    from gdp_etl_spark.operators.sampling import curriculum_stages

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        quality_score(F.col("text")).alias("difficulty"),
        token_count_ws(F.col("text")).alias("n_tokens"),
    )
    cur = curriculum_stages(
        d.select("doc_id", "difficulty"), "difficulty", "doc_id",
        n_stages=4, batch_size=16,
    )
    j = cur.join(d.select("doc_id", "n_tokens"), "doc_id")
    return pack_segments_staged(
        j, "doc_id", "n_tokens", seq_len=128,
        stage_col="stage", order_cols=["batch_id", "pos_in_batch"],
    )
