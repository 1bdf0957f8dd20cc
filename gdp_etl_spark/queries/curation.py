"""Corpus curation: decontamination, DSIR selection, domain mixing, the
composed cleaning/curation plans, corpus reports and de-identification."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import (
    g2, g3, jaccard, lang_case, _pii_red_text, quality, sh, sh8, _TOKS_LOW,
    _TOKS_RAW,
)


@query(oracle=f"""
            WITH per AS (
              SELECT source, lang, md5(text) AS h,
                     CAST(len({_TOKS_RAW}) AS BIGINT) AS tok,
                     CAST(floor(({quality}) * 1e9) AS BIGINT) AS q
              FROM documents
            ),
            base AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_texts,
                     CAST(sum(tok) AS BIGINT) AS n_tokens,
                     CAST(sum(q) AS BIGINT) AS qsum
              FROM per GROUP BY 1
            ),
            lc AS (
              SELECT source, lang, count(*) AS n FROM per GROUP BY 1, 2
            ),
            ent AS (
              SELECT source,
                     CAST(count(*) AS BIGINT) AS n_langs,
                     CAST(sum(CAST(floor(
                       -((CAST(n AS DOUBLE) / t)
                         * ln(CAST(n AS DOUBLE) / t)) * 1e9)
                       AS BIGINT)) AS BIGINT) AS csum
              FROM (SELECT source, lang, n,
                           CAST(sum(n) OVER (PARTITION BY source)
                                AS DOUBLE) AS t
                    FROM lc)
              GROUP BY 1
            )
            SELECT b.source, n_docs, n_distinct_texts,
                   CAST(1 AS DOUBLE)
                     - CAST(n_distinct_texts AS DOUBLE)
                     / CAST(n_docs AS DOUBLE) AS dup_rate,
                   n_tokens,
                   CAST(qsum AS DOUBLE) / 1e9 / CAST(n_docs AS DOUBLE)
                     AS mean_quality,
                   n_langs,
                   CAST(csum AS DOUBLE) / 1e9 AS lang_entropy
            FROM base b JOIN ent e USING (source)
        """)
def q_source_report(spark, sf_dir):
    """Per-source corpus health report (plans.corpus.source_report):
    volume, exact-dup rate, fixed-point mean quality, language-mix
    entropy — the dashboard mixture-weight tuning reads.  ONE corpus
    pass feeding two bounded aggs assembled by a broadcast join; all
    statistics cross-engine deterministic (floor 1e9 fixed point over
    exact counts)."""
    from gdp_etl_spark.plans.corpus import source_report

    return source_report(_t(spark, sf_dir, "documents"))


# rates in exact BIGINT ppm, membership by md5-bucket mod 1e6 —
# bit-for-bit the mix_to_budget recipe
@query(oracle="""
            WITH avail AS (
              -- CAST: DuckDB SUM(int) is HUGEINT, which would infect
              -- rate_ppm and break the driver's int64 hash (r3 red)
              SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS av
              FROM documents GROUP BY lang
            ),
            w(lang, wt) AS (
              VALUES ('en', 4), ('de', 2), ('fr', 2), ('es', 1), ('zh', 1)
            ),
            rates AS (
              SELECT a.lang,
                     CAST(LEAST(CAST(1000000 AS BIGINT),
                           (CAST(60000 AS BIGINT) * w.wt * 1000000)
                             // (10 * a.av)) AS BIGINT) AS rate_ppm
              FROM avail a JOIN w USING (lang)
            )
            SELECT d.doc_id, d.lang, d.n_chars, r.rate_ppm
            FROM documents d JOIN rates r USING (lang)
            WHERE (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                            || ':mix'), 1, 8)) AS BIGINT)
                   % 1000000) < r.rate_ppm
        """)
def q_corpus_mix(spark, sf_dir):
    """Budget-driven corpus mixing (operators/sampling.py:mix_to_budget):
    each language gets a token target ``budget · w/Σw`` and a
    deterministic md5-hash sampling rate quantized to parts-per-million
    with pure BIGINT floor arithmetic — the exact sample is
    engine-portable, so the oracle recomputes rates AND membership."""
    from gdp_etl_spark.operators.sampling import mix_to_budget

    docs = _t(spark, sf_dir, "documents")
    out = mix_to_budget(
        docs, "doc_id", "lang", "n_chars", 60_000,
        {"en": 4, "de": 2, "fr": 2, "es": 1, "zh": 1},
    )
    return out.select("doc_id", "lang", "n_chars", "rate_ppm")


@query(oracle=f"""
            WITH scored AS (
                SELECT doc_id, text, {quality} AS quality,
                       {lang_case} AS lang_pred
                FROM documents
            ), kept AS (
                SELECT doc_id, lang_pred, quality, {_pii_red_text} AS text_clean
                FROM scored WHERE quality >= 0.85 AND lang_pred IN ('en')
            ), dedup AS (
                SELECT doc_id, lang_pred, quality, text_clean FROM kept
                QUALIFY row_number()
                        OVER (PARTITION BY md5(text_clean) ORDER BY doc_id) = 1
            )
            SELECT doc_id, lang_pred, quality, text_clean FROM dedup
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '42'),
                       1, 8) AS BIGINT) < 2147483648
        """)
def q_corpus_clean(spark, sf_dir):
    """The composed corpus-cleaning pipeline (plans.corpus): quality +
    language scoring → filter → PII redaction → exact dedup (window on
    md5, no self-join) → deterministic 50% hash sample.  End-to-end
    oracle-checkable — every stage is engine-portable."""
    from gdp_etl_spark.plans.corpus import clean_corpus

    d = _t(spark, sf_dir, "documents")
    return clean_corpus(
        d, min_quality=0.85, langs=("en",), sample_fraction=0.5, seed="42"
    )


@query(oracle=f"""
            WITH bs AS (
              SELECT DISTINCT unnest({sh8}) AS s
              FROM documents WHERE doc_id % 50 = 0),
            ds AS (SELECT doc_id, unnest({sh8}) AS s FROM documents),
            ov AS (SELECT doc_id, count(DISTINCT s) AS n
                   FROM ds JOIN bs USING (s) GROUP BY doc_id)
            SELECT d.doc_id, CAST(coalesce(o.n, 0) AS INT) AS n_overlap,
                   coalesce(o.n, 0) >= 1 AS is_contaminated
            FROM documents d LEFT JOIN ov o USING (doc_id)
        """)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing ≥1 8-token
    shingle with a held-out eval set (here: every 50th doc).  Broadcast
    hash semi-join — the corpus side never shuffles text."""
    from gdp_etl_spark.operators.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    out = decontaminate(docs, bench, "text", "doc_id", shingle_k=8)
    return out.select("doc_id", "n_overlap", "is_contaminated")


#: decontam_screen fixture — tokens chosen to collide with nothing in
#: the synthetic corpus.  Benchmark doc = 12 tokens → five 8-token
#: shingles; doc -1 copies 9 benchmark tokens (2 shared shingles,
#: BELOW min_overlap=3 → admitted), doc -2 copies 10 (3 shared
#: shingles, AT threshold → rejected) — the branch the driver check
#: must see straddled from both sides.
_DS_BENCH = ("zq01 zq02 zq03 zq04 zq05 zq06 zq07 zq08 zq09 zq10 "
             "zq11 zq12")
_DS_BELOW = "zq01 zq02 zq03 zq04 zq05 zq06 zq07 zq08 zq09 qxa qxb qxc"
_DS_AT = "zq01 zq02 zq03 zq04 zq05 zq06 zq07 zq08 zq09 zq10 qxd qxe qxf"


@query(oracle=f"""
            WITH fx(doc_id, text) AS (VALUES
              (CAST(-1 AS BIGINT), '{_DS_BELOW}'),
              (CAST(-2 AS BIGINT), '{_DS_AT}')),
            docs AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id, text FROM fx),
            bt AS (SELECT text FROM documents WHERE doc_id % 50 = 0
                   UNION ALL SELECT '{_DS_BENCH}'),
            bs AS (SELECT DISTINCT unnest({sh8}) AS s FROM bt),
            ds AS (SELECT doc_id, unnest({sh8}) AS s FROM docs),
            ov AS (SELECT doc_id, count(DISTINCT s) AS n
                   FROM ds JOIN bs USING (s) GROUP BY doc_id)
            SELECT d.doc_id FROM docs d LEFT JOIN ov o USING (doc_id)
            WHERE coalesce(o.n, 0) < 3
        """)
def q_decontam_screen(spark, sf_dir):
    """Threshold-branch decontamination screen
    (decontam.screen_contaminated with min_overlap=3 — the admission
    form run_near_dup_ingest composes as its fourth screen): documents
    plus two planted fixture docs straddling the threshold against a
    benchmark of every 50th doc plus a planted benchmark doc.  Doc -1
    shares exactly 2 distinct 8-token shingles (admitted), doc -2
    exactly 3 (rejected); real every-50th docs reject against
    themselves.  The min_overlap>1 branch takes the count-distinct
    aggregate path instead of the any-hit semi-join — this query is
    what makes that branch oracle-checked rather than pytest-only.
    Scale shape: broadcast benchmark hash set, map-side explode +
    semi-join, per-doc partial aggregate — the corpus text never
    shuffles."""
    from gdp_etl_spark.operators.decontam import (
        benchmark_shingle_hashes,
        screen_contaminated,
    )
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fixture = local_df(
        spark, [(-1, _DS_BELOW), (-2, _DS_AT)], "doc_id bigint, text string"
    )
    docs = d.unionByName(fixture)
    bench = d.filter(F.col("doc_id") % 50 == 0).select("text").unionByName(
        local_df(spark, [(_DS_BENCH,)], "text string")
    )
    hashes = benchmark_shingle_hashes(bench, "text", shingle_k=8)
    return screen_contaminated(
        docs, hashes, "text", "doc_id", shingle_k=8, min_overlap=3
    ).select("doc_id")


# DSIR replayed end to end: hashed-bigram counting, add-one
# smoothing, the floor(ln·1e9) quantization of all four log
# terms, and per-doc occurrence-weighted scoring
@query(oracle=f"""
            WITH tg AS (
              SELECT unnest({g2}) AS g FROM documents
              WHERE lang = 'en' AND doc_id % 3 = 0),
            tc AS (
              SELECT CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b, count(*) AS ct
              FROM tg GROUP BY 1),
            rg AS (SELECT unnest({g2}) AS g FROM documents),
            rc AS (
              SELECT CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b, count(*) AS cr
              FROM rg GROUP BY 1),
            tot AS (
              SELECT (SELECT COALESCE(sum(ct), 0) FROM tc) AS nt,
                     (SELECT COALESCE(sum(cr), 0) FROM rc) AS nr),
            w AS (
              SELECT COALESCE(tc.b, rc.b) AS b,
                     CAST(floor(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE))
                          * 1e9) AS BIGINT)
                   - CAST(floor(ln(CAST(nt + 4096 AS DOUBLE)) * 1e9)
                          AS BIGINT)
                   - CAST(floor(ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE))
                          * 1e9) AS BIGINT)
                   + CAST(floor(ln(CAST(nr + 4096 AS DOUBLE)) * 1e9)
                          AS BIGINT) AS wq
              FROM tc FULL JOIN rc USING (b), tot),
            db AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b
              FROM (SELECT doc_id, unnest({g2}) AS g FROM documents)),
            agg AS (
              SELECT db.doc_id, count(*) AS n_grams,
                     CAST(sum(w.wq) AS BIGINT) AS dsir_qsum
              FROM db JOIN w USING (b) GROUP BY db.doc_id)
            SELECT d.doc_id,
                   COALESCE(a.n_grams, 0) AS n_grams,
                   CAST(COALESCE(a.dsir_qsum, 0) AS BIGINT) AS dsir_qsum
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (sampling.dsir_weights — Xie et al.
    2023): every document scored by how much likelier its hashed
    word-bigram bag is under the TARGET distribution (the en %3==0
    slice) than under the raw corpus, add-one smoothed over 4096
    hashed features.  All four log terms per bucket are
    floor(ln(integer)·1e9) bigints (the trigram_lm_scores recipe), so
    per-doc sums are exact integer adds and the oracle replays
    counting, smoothing, quantization AND scoring — full hash.  Scale:
    two num_buckets-bounded count aggregates, one broadcast weight
    table, map-side bucket hash, per-doc partial aggregate — corpus
    text never shuffles."""
    from gdp_etl_spark.operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 3 == 0)
    )
    return dsir_weights(docs, target, "text", "doc_id", n=2)


# dsir_weights' scoring chain + the budget cut: one window
# cumsum in rank order, selection = the prefix within budget
@query(oracle=f"""
            WITH tg AS (
              SELECT unnest({g2}) AS g FROM documents
              WHERE lang = 'en' AND doc_id % 3 = 0),
            tc AS (
              SELECT CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b, count(*) AS ct
              FROM tg GROUP BY 1),
            rg AS (SELECT unnest({g2}) AS g FROM documents),
            rc AS (
              SELECT CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b, count(*) AS cr
              FROM rg GROUP BY 1),
            tot AS (
              SELECT (SELECT COALESCE(sum(ct), 0) FROM tc) AS nt,
                     (SELECT COALESCE(sum(cr), 0) FROM rc) AS nr),
            w AS (
              SELECT COALESCE(tc.b, rc.b) AS b,
                     CAST(floor(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE))
                          * 1e9) AS BIGINT)
                   - CAST(floor(ln(CAST(nt + 4096 AS DOUBLE)) * 1e9)
                          AS BIGINT)
                   - CAST(floor(ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE))
                          * 1e9) AS BIGINT)
                   + CAST(floor(ln(CAST(nr + 4096 AS DOUBLE)) * 1e9)
                          AS BIGINT) AS wq
              FROM tc FULL JOIN rc USING (b), tot),
            db AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(g || ':dsir'), 1, 15))
                       AS BIGINT) % 4096 AS b
              FROM (SELECT doc_id, unnest({g2}) AS g FROM documents)),
            agg AS (
              SELECT db.doc_id, count(*) AS n_grams,
                     CAST(sum(w.wq) AS BIGINT) AS dsir_qsum
              FROM db JOIN w USING (b) GROUP BY db.doc_id),
            toks AS (
              SELECT doc_id,
                     CAST(CASE WHEN text IS NULL
                               OR length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text),
                                                      '\\s+'))
                          END AS BIGINT) AS n_tokens
              FROM documents),
            sel AS (
              SELECT d.doc_id,
                     COALESCE(a.n_grams, 0) AS n_grams,
                     CAST(COALESCE(a.dsir_qsum, 0) AS BIGINT)
                       AS dsir_qsum,
                     t.n_tokens
              FROM documents d LEFT JOIN agg a USING (doc_id)
                               JOIN toks t USING (doc_id)),
            c AS (
              SELECT *,
                     CAST(sum(n_tokens)
                          OVER (ORDER BY dsir_qsum DESC, doc_id)
                          AS BIGINT) AS cum_tokens
              FROM sel)
            SELECT doc_id, n_grams, dsir_qsum, n_tokens, cum_tokens
            FROM c WHERE cum_tokens <= 11000
        """)
def q_dsir_select(spark, sf_dir):
    """DSIR selection (sampling.dsir_select — the paper's step AFTER
    scoring): rank the corpus by the dsir_weights importance score and
    keep documents in rank order until an 11,000-token budget fills;
    the boundary doc that would overflow is dropped, so the selection
    is a unique prefix of the ranked stream.  Oracle replays scoring
    (the dsir_weights CTE chain) AND the budget cut (one SQL window
    cumsum) — full hash.  Scale: scoring never shuffles corpus text;
    the ranked cumsum is the two-pass prefix sum over slim (id, score,
    tokens) rows, not a single global window."""
    from gdp_etl_spark.functions.text import ws_tokens
    from gdp_etl_spark.operators.sampling import dsir_select

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang",
        F.size(ws_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    target = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 3 == 0)
    )
    return dsir_select(
        docs, target, "text", "doc_id", "n_tokens", budget=11_000, n=2
    )


# windows + membership + covered-token removal replayed; DuckDB
# list lambdas index 1-based (Spark's filter lambda is 0-based —
# both sides compare 1-based token positions)
@query(oracle=f"""
            WITH fx(doc_id, text) AS (VALUES
              (CAST(-1 AS BIGINT), '{_DS_BELOW}'),
              (CAST(-2 AS BIGINT), '{_DS_AT}')),
            docs AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id, text FROM fx),
            bt AS (SELECT text FROM documents WHERE doc_id % 50 = 0
                   UNION ALL SELECT '{_DS_BENCH}'),
            bs AS (SELECT DISTINCT unnest({sh8}) AS s FROM bt),
            tok AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR len(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[]) ELSE {_TOKS_LOW}
                     END AS tl,
                     CASE WHEN text IS NULL OR len(trim(text)) = 0
                          THEN CAST([] AS VARCHAR[]) ELSE {_TOKS_RAW}
                     END AS tr
              FROM docs),
            st AS (
              SELECT doc_id, tl,
                     unnest(range(1, greatest(len(tl) - 7, 1) + 1)) AS s0
              FROM tok),
            hit AS (
              SELECT t.doc_id, t.s0
              FROM (SELECT doc_id, s0,
                           array_to_string(tl[s0:s0+7], ' ') AS g
                    FROM st) t
              JOIN bs ON bs.s = t.g),
            spans AS (SELECT doc_id, list(s0) AS sp FROM hit
                      GROUP BY doc_id),
            kept AS (
              SELECT t.doc_id,
                     list_filter(t.tr, (x, i) ->
                       len(list_filter(COALESCE(spans.sp, []),
                           s -> s <= i AND i < s + 8)) = 0) AS kp,
                     t.tr
              FROM tok t LEFT JOIN spans USING (doc_id))
            SELECT doc_id,
                   -- DuckDB array_to_string([]) is NULL; Spark
                   -- array_join([]) is '' — align on ''
                   COALESCE(array_to_string(kp, ' '), '') AS text_clean,
                   CAST(len(tr) - len(kp) AS INT) AS n_removed_tokens
            FROM kept
        """)
def q_decontam_scrub(spark, sf_dir):
    """Span-level decontamination (decontam.scrub_contaminated_spans):
    same corpus/benchmark/fixture layout as decontam_screen, but
    instead of rejecting overlapping docs, only the tokens covered by
    a contaminated 8-gram window are removed — doc -1 keeps its unique
    tail (9 tokens scrubbed), doc -2 likewise (10 scrubbed), every
    50th doc scrubs to empty against itself.  Start discovery is a
    map-side explode + broadcast semi-join (only the contamination
    mass shuffles); removal is a map-only indexed filter.  The oracle
    replays windows, membership and the covered-token rule (DuckDB
    list lambdas are 1-based where Spark's are 0-based — both sides
    use 1-based token positions)."""
    from gdp_etl_spark.operators.decontam import (
        benchmark_shingle_hashes,
        scrub_contaminated_spans,
    )
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fixture = local_df(
        spark, [(-1, _DS_BELOW), (-2, _DS_AT)], "doc_id bigint, text string"
    )
    docs = d.unionByName(fixture)
    bench = d.filter(F.col("doc_id") % 50 == 0).select("text").unionByName(
        local_df(spark, [(_DS_BENCH,)], "text string")
    )
    hashes = benchmark_shingle_hashes(bench, "text", shingle_k=8)
    return scrub_contaminated_spans(
        docs, hashes, "text", "doc_id", shingle_k=8
    ).select("doc_id", "text_clean", "n_removed_tokens")


@query(oracle=f"""
            WITH RECURSIVE
            base AS (
              SELECT doc_id, lang, text, {quality} AS q,
                     CASE WHEN len({g3}) = 0 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct({g3})) AS DOUBLE)
                               / CAST(len({g3}) AS DOUBLE) END AS d3,
                     CAST(len({_TOKS_RAW}) AS INT) AS n_tok
              FROM documents),
            filt AS (SELECT * FROM base WHERE q >= 0.8 AND d3 <= 0.6),
            bs AS (SELECT DISTINCT unnest({sh8}) AS s
                   FROM documents WHERE doc_id % 50 = 0),
            contaminated AS (
              SELECT DISTINCT d.doc_id
              FROM (SELECT doc_id, unnest({sh8}) AS s FROM filt) d
              JOIN bs USING (s)),
            decon AS (SELECT * FROM filt
                      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
            exact AS (
              SELECT * FROM decon
              QUALIFY row_number()
                      OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
            shx AS (SELECT doc_id, {sh} AS sh FROM exact),
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
                FROM shx a JOIN shx b ON a.doc_id < b.doc_id
                 AND len(a.sh) * 5 >= len(b.sh) * 4
                 AND len(b.sh) * 5 >= len(a.sh) * 4)
              WHERE jaccard >= 0.8),
            edges AS (SELECT id_a AS u, id_b AS v FROM p
                      UNION SELECT id_b, id_a FROM p),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.u, w.reach FROM edges e JOIN walk w ON e.v = w.node),
            comp AS (SELECT node, min(reach) AS component
                     FROM walk GROUP BY node),
            canon AS (
              SELECT e.* FROM exact e
              LEFT JOIN comp c ON e.doc_id = c.node
              WHERE coalesce(c.component, e.doc_id) = e.doc_id),
            spl AS (
              SELECT doc_id, lang, n_tok,
                     CASE WHEN b < 3865470566 THEN 'train'
                          WHEN b < 4080218931 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT *,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || ':' || '42'), 1, 8)) AS BIGINT) AS b
                    FROM canon)),
            packed AS (
              SELECT doc_id, lang, split, n_tok,
                     CAST(SUM(n_tok) OVER (PARTITION BY split, lang
                            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - n_tok AS BIGINT) AS start
              FROM spl)
            SELECT doc_id, lang, split, n_tok,
                   CAST(floor(start / 128.0) AS BIGINT) AS seq_id,
                   CAST(start % 128 AS BIGINT) AS seq_offset
            FROM packed
        """)
def q_corpus_curate(spark, sf_dir):
    """The FULL curation DAG (plans.corpus.curate_corpus): quality +
    repetition filter → benchmark decontamination → exact dedup →
    MinHash near-dup canonical keep → leak-free split → per-(split,
    lang) sequence packing.  One DuckDB oracle covers the whole DAG."""
    from gdp_etl_spark.plans.corpus import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return curate_corpus(docs, bench)


@query(oracle="""
            SELECT c_custkey,
                   sha256('s3cret' || ':' || CAST(c_custkey AS VARCHAR))
                     AS pseudo_id,
                   c_mktsegment
            FROM customer
        """)
def q_pseudonymize(spark, sf_dir):
    """Salted SHA-256 keyed de-identification: stable pseudonymous ids
    that still join/group, irreversible without the salt."""
    from gdp_etl_spark.functions.text import pseudonymize

    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        pseudonymize(F.col("c_custkey"), "s3cret").alias("pseudo_id"),
        "c_mktsegment",
    )


# distinct-shingle overlap fraction vs the %50 benchmark;
# dirty at integer-millis >= 500/1000
@query(oracle=f"""
            WITH bs AS (
              SELECT DISTINCT unnest({sh8}) AS s
              FROM documents WHERE doc_id % 50 = 0),
            ds AS (
              SELECT DISTINCT doc_id, unnest({sh8}) AS s FROM documents),
            agg AS (
              SELECT ds.doc_id,
                     CAST(count(*) AS BIGINT) AS n_shingles,
                     CAST(count(bs.s) AS BIGINT) AS n_overlap
              FROM ds LEFT JOIN bs USING (s) GROUP BY ds.doc_id)
            SELECT d.doc_id,
                   coalesce(a.n_shingles, 0) AS n_shingles,
                   coalesce(a.n_overlap, 0) AS n_overlap,
                   CASE WHEN coalesce(a.n_shingles, 0) > 0
                        THEN CAST(a.n_overlap AS DOUBLE)
                             / CAST(a.n_shingles AS DOUBLE) END AS overlap_frac,
                   coalesce(a.n_shingles, 0) > 0
                     AND coalesce(a.n_overlap, 0) * 1000
                         >= 500 * coalesce(a.n_shingles, 0) AS is_dirty
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """)
def q_contamination_frac(spark, sf_dir):
    """Benchmark overlap FRACTION per document (decontam.
    contamination_overlap_fraction — the GPT-3/PaLM dirty-document
    criterion): share of each doc's distinct 8-token shingles found in
    the benchmark (every 50th doc), dirty at >= 0.5 in integer millis.
    The benchmark's distinct shingle hashes BROADCAST; the doc side is
    one explode + distinct + ONE groupBy — bodies never shuffle, cost
    flat in corpus count (the fraction sibling of `decontaminate`)."""
    from gdp_etl_spark.operators.decontam import contamination_overlap_fraction

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return contamination_overlap_fraction(
        docs, bench, "text", "doc_id", shingle_k=8, frac_threshold=0.5
    ).select("doc_id", "n_shingles", "n_overlap", "overlap_frac", "is_dirty")


# availability^0.5 shares, ppm-floored rates, md5 keep —
# integer everywhere except sqrt (IEEE-exact both engines)
@query(oracle=r"""
            WITH toks AS (
              SELECT doc_id, source,
                     CASE WHEN text IS NULL OR length(trim(text)) = 0
                          THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS n_tokens
              FROM documents
            ),
            avail AS (
              SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS f
              FROM toks GROUP BY source
            ),
            tot AS (SELECT SUM(sqrt(CAST(f AS DOUBLE))) AS t FROM avail),
            rates AS (
              SELECT source,
                     least(1000000, CAST(floor(
                       20000.0 * sqrt(CAST(f AS DOUBLE)) / t
                       / CAST(f AS DOUBLE) * 1000000.0) AS BIGINT))
                       AS rate_ppm
              FROM avail, tot
            )
            SELECT t.doc_id, t.source, CAST(t.n_tokens AS INT) AS n_tokens,
                   r.rate_ppm
            FROM toks t JOIN rates r USING (source)
            WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)
                        || ':' || 'temp'), 1, 8)) AS BIGINT) % 1000000
                  < r.rate_ppm
        """)
def q_temperature_mix(spark, sf_dir):
    """Temperature-based domain mixing (sampling.temperature_mix — the
    mBERT/XLM-R p ∝ f^α sampler): per-source token availability raised
    to α=0.5 defines each source's share of a 20k-token budget
    (≈40% of the sf0.01 corpus, so rates genuinely bite);
    deterministic ppm-quantized md5 keep rates reproduce bit-for-bit
    in the oracle (the one double step, pow(f, 0.5), is sqrt — exact
    in IEEE-754 on both engines).  One bounded per-domain aggregate +
    broadcast join back; the corpus never shuffles."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        token_count_ws(F.col("text")).alias("n_tokens"),
    )
    return temperature_mix(
        docs, "doc_id", "source", "n_tokens",
        budget=20_000, alpha=0.5, seed="temp",
    ).select("doc_id", "source", "n_tokens", "rate_ppm")


# the curate CTE chain re-used to emit per-doc verdicts in the
# exact admission order instead of the surviving manifest
@query(oracle=f"""
            WITH RECURSIVE
            base AS (
              SELECT doc_id, text, {quality} AS q,
                     CASE WHEN len({g3}) = 0 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct({g3})) AS DOUBLE)
                               / CAST(len({g3}) AS DOUBLE) END AS d3
              FROM documents WHERE doc_id % 2 = 0),
            s1 AS (SELECT * FROM base WHERE q >= 0.8 AND d3 <= 0.6),
            bs AS (SELECT DISTINCT unnest({sh8}) AS s
                   FROM documents
                   WHERE doc_id % 2 = 0 AND doc_id % 50 = 0),
            contaminated AS (
              SELECT DISTINCT d.doc_id
              FROM (SELECT doc_id, unnest({sh8}) AS s FROM s1) d
              JOIN bs USING (s)),
            s2 AS (SELECT * FROM s1
                   WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
            ranked AS (
              SELECT *, row_number()
                     OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM s2),
            s3 AS (SELECT * FROM ranked WHERE rn = 1),
            shx AS (SELECT doc_id, {sh} AS sh FROM s3),
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
                FROM shx a JOIN shx b ON a.doc_id < b.doc_id
                 AND len(a.sh) * 5 >= len(b.sh) * 4
                 AND len(b.sh) * 5 >= len(a.sh) * 4)
              WHERE jaccard >= 0.8),
            edges AS (SELECT id_a AS u, id_b AS v FROM p
                      UNION SELECT id_b, id_a FROM p),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.u, w.reach FROM edges e JOIN walk w ON e.v = w.node),
            comp AS (SELECT node, min(reach) AS component
                     FROM walk GROUP BY node)
            SELECT doc_id, q AS quality,
                   CASE
                     WHEN q < 0.8 THEN 'quality'
                     WHEN d3 > 0.6 THEN 'repetition'
                     WHEN doc_id IN (SELECT doc_id FROM contaminated)
                       THEN 'decontaminated'
                     WHEN doc_id IN (SELECT doc_id FROM ranked WHERE rn > 1)
                       THEN 'exact_dup'
                     WHEN doc_id IN (SELECT node FROM comp
                                     WHERE component <> node)
                       THEN 'near_dup'
                     ELSE 'kept'
                   END AS verdict
            FROM base
        """)
def q_curation_audit(spark, sf_dir):
    """Curation provenance audit (plans.corpus.curation_audit): for
    EVERY document, the first curate_corpus stage that removed it —
    quality → repetition → decontaminated → exact_dup → near_dup →
    kept — the table that explains corpus shrinkage and keeps drop
    rules tunable against evidence.  Same predicates, same admission
    order, and same plan shapes as the curate DAG it audits (map-work
    flags, one broadcast shingle semi-join, one md5 window, banded LSH
    on final survivors only), plus a union of bounded removed-id
    frames joined back."""
    from gdp_etl_spark.plans.corpus import curation_audit

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        .select("doc_id", "text")
    )
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return curation_audit(docs, bench)


# polynomial rolling hashes of both snapshots + the J6/C2
# classification replayed
@query(oracle="""
            WITH ch AS (
              SELECT doc_id,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(text, ''),
                                        c -> CAST(ascii(c) AS BIGINT))),
                       (acc, x) -> (acc * 31 + x) % 2147483647) AS h,
                     text
              FROM documents
            ),
            new AS (SELECT doc_id, h AS chash FROM ch),
            old AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN
                       list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(text || ' OLD', ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                         (acc, x) -> (acc * 31 + x) % 2147483647)
                     ELSE h END AS chash
              FROM ch WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT doc_id + 50000 AS doc_id, h AS chash
              FROM ch WHERE doc_id % 11 = 0
            )
            SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
                   n.chash AS chash_new, o.chash AS chash_old,
                   CASE
                     WHEN n.chash IS NULL AND o.chash IS NOT NULL
                       THEN 'missing'
                     WHEN n.chash IS NOT NULL AND o.chash IS NULL
                       THEN 'added'
                     WHEN abs(n.chash - o.chash) > 0 THEN 'changed'
                     ELSE 'unchanged'
                   END AS status
            FROM new n FULL OUTER JOIN old o USING (doc_id)
        """)
def q_corpus_diff(spark, sf_dir):
    """Corpus release diff (operators.diff reused outside the GDP
    domain): two corpus snapshots compared by doc_id on a rolling
    content hash — added (new ingests), missing (retired docs),
    changed (edited text), unchanged — the release-management audit a
    training-corpus pipeline publishes with every snapshot.  The old
    snapshot is the documents table with every %7 doc absent (added
    in the new release), every %5 text suffix-edited (changed), and 46
    retired extra docs (missing).  J6 full-outer diff + C2
    classification on the hash delta; one co-partitioned join, hashes
    not bodies."""
    from gdp_etl_spark.functions.text import rolling_content_hash
    from gdp_etl_spark.operators.diff import classify_diff, full_outer_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.select(
        "doc_id", rolling_content_hash(F.col("text")).alias("chash")
    )
    old_text = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.concat(F.col("text"), F.lit(" OLD")),
    ).otherwise(F.col("text"))
    old = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 0)
        .select("doc_id", old_text.alias("text"))
        .unionByName(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(11)) == 0).select(
                (F.col("doc_id") + F.lit(50000)).cast("long").alias("doc_id"),
                "text",
            )
        )
        .select("doc_id", rolling_content_hash(F.col("text")).alias("chash"))
    )
    d = full_outer_diff(new, old, ["doc_id"], "chash")
    return classify_diff(d, "chash", tol=0).select(
        "doc_id", "chash_new", "chash_old", "status"
    )


# grouped_ntile in a second context: windowed ntile(3) replay
# per source over the quantized quality score
@query(oracle=f"""
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN NULL
                          ELSE source END AS source,
                     CAST(floor(({quality}) * 1e9) AS BIGINT) AS q9
              FROM documents
            )
            SELECT doc_id, source, q9,
                   CAST(ntile(3) OVER (PARTITION BY source
                                       ORDER BY q9 DESC, doc_id)
                        AS INT) AS bucket
            FROM s
        """)
def q_source_terciles(spark, sf_dir):
    """Per-SOURCE quality terciles via the distributed per-group ntile
    (ids.grouped_ntile — the de-skewed form of
    ntile(3) OVER (PARTITION BY source ORDER BY ...)): quality_score
    orders each source's docs, rank stitches from range-partition
    prefix sums, bucket by ntile's exact even-split rule.
    Bit-identical to the windowed ntile the oracle replays, with no
    per-source window partition — a source at half the corpus would
    otherwise pin one unsplittable task.  Second driver-checked context
    for grouped_ntile beyond lm_buckets (different group key, different
    ordering metric), and the fixture NULLs every %7==0 source so the
    NULL-group branch (one partition, null-safe joins — rows must
    never drop) is oracle-exercised."""
    from gdp_etl_spark.functions.text import quality_score
    from gdp_etl_spark.operators.ids import grouped_ntile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        # every %7==0 doc gets a NULL source: PARTITION BY treats NULL
        # as ONE group, and the prefix-sum formulation must keep (and
        # bucket) those rows identically — the silent-drop regression
        # the null-safe joins exist to prevent
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.lit(None).cast("string"),
        ).otherwise(F.col("source")).alias("source"),
        F.floor(quality_score(F.col("text")) * F.lit(1e9))
        .cast("long")
        .alias("q9"),
    )
    return grouped_ntile(
        docs, ["source"], [F.col("q9").desc(), F.col("doc_id").asc()], 3
    )


@query(oracle=r"""
            WITH l0 AS (
              SELECT c_custkey,
                     CAST(c_nationkey AS VARCHAR) AS nation,
                     c_mktsegment AS segment,
                     CAST(CAST(floor(c_acctbal / 2000) * 2000 AS BIGINT)
                          AS VARCHAR) AS balance,
                     c_nationkey, c_mktsegment AS seg_o, c_acctbal,
                     COUNT(*) OVER (PARTITION BY
                       CAST(c_nationkey AS VARCHAR), c_mktsegment,
                       CAST(CAST(floor(c_acctbal / 2000) * 2000 AS BIGINT)
                            AS VARCHAR)) AS n
              FROM customer
            ), e0 AS (
              SELECT c_custkey, nation, segment, balance,
                     CAST(0 AS INT) AS anon_level, FALSE AS suppressed
              FROM l0 WHERE n >= 6
            ), r0 AS (
              SELECT c_custkey, c_nationkey, seg_o AS c_mktsegment,
                     c_acctbal
              FROM l0 WHERE n < 6
            ), l1 AS (
              SELECT c_custkey,
                     CAST(c_nationkey AS VARCHAR) AS nation,
                     c_mktsegment AS segment,
                     '*' AS balance,
                     COUNT(*) OVER (PARTITION BY
                       CAST(c_nationkey AS VARCHAR), c_mktsegment) AS n
              FROM r0
            ), e1 AS (
              SELECT c_custkey, nation, segment, balance,
                     CAST(1 AS INT) AS anon_level, FALSE AS suppressed
              FROM l1 WHERE n >= 6
            ), sup AS (
              SELECT c_custkey, CAST(NULL AS VARCHAR) AS nation,
                     CAST(NULL AS VARCHAR) AS segment,
                     CAST(NULL AS VARCHAR) AS balance,
                     CAST(2 AS INT) AS anon_level, TRUE AS suppressed
              FROM l1 WHERE n < 6
            )
            SELECT * FROM e0 UNION ALL SELECT * FROM e1
            UNION ALL SELECT * FROM sup
        """)
def q_k_anon(spark, sf_dir):
    """k-anonymity suppression-ladder release of customer
    quasi-identifiers (operators/anonymize.py): level 0 =
    (nation, segment, $2000 balance band), level 1 = (nation,
    segment, *), k = 6 — drop the most-identifying numeric first; rows neither level can anonymize are
    suppressed with NULL QIs.  One count-over-QI-window shuffle per
    level over a shrinking remainder; integer counts + string QI
    renderings make the release hash-exact.  Extends the privacy
    family (pii_redact, pseudonymize) to record-level release."""
    from gdp_etl_spark.operators.anonymize import k_anonymize

    cust = _t(spark, sf_dir, "customer")
    ladder = [
        {
            "nation": F.col("c_nationkey").cast("string"),
            "segment": F.col("c_mktsegment"),
            "balance": (F.floor(F.col("c_acctbal") / 2000) * 2000),
        },
        {
            "nation": F.col("c_nationkey").cast("string"),
            "segment": F.col("c_mktsegment"),
            "balance": F.lit("*"),
        },
    ]
    return k_anonymize(cust, ladder, k=6, id_col="c_custkey")
