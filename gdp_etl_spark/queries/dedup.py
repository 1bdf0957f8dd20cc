"""Text deduplication: exact, paragraph, line and substring dedup, MinHash,
SimHash and n-gram Jaccard pairs, and the persisted dedup indexes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gdp_etl_spark.functions.text import fingerprint, rolling_content_hash
from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, simhash_pairs,
)
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import jaccard, sh, sh8


def _simhash_sig_sql() -> str:
    """Mirror of operators.dedup.simhash_signatures as a DuckDB CTE
    body: FNV-1a-64 folded over each token's code points (the corpus is
    ASCII, so code points == UTF-8 bytes) with HUGEINT modular
    arithmetic, then the 64-bit little-endian majority-vote signature,
    reinterpreted as a signed BIGINT exactly like numpy's
    ``view(int64)``.  Verified bit-identical to the Arrow UDF on all
    sf0.01 documents."""
    fnv = (
        "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), "
        "list_transform(range(1, length(t)+1), "
        "i -> CAST(unicode(t[i]) AS HUGEINT))), "
        "(h, b) -> (xor(h, b) * CAST(1099511628211 AS HUGEINT)) "
        "% CAST(18446744073709551616 AS HUGEINT))"
    )
    return f"""
            toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(coalesce(text, '')),
                                 '\\s+'), x -> x != '') AS tk
              FROM documents),
            fh AS (
              SELECT doc_id, list_transform(tk, t -> {fnv}) AS fh,
                     len(tk) AS n
              FROM toks),
            sig AS (
              SELECT doc_id,
                     CAST(CASE WHEN su >= CAST(9223372036854775808 AS HUGEINT)
                          THEN su - CAST(18446744073709551616 AS HUGEINT)
                          ELSE su END AS BIGINT) AS simhash
              FROM (SELECT doc_id,
                           list_sum(list_transform(range(0, 64), k ->
                             CASE WHEN 2 * len(list_filter(fh,
                                        h -> ((h >> k) & 1) = 1)) > n
                                  THEN (CAST(1 AS HUGEINT) << k)
                                  ELSE CAST(0 AS HUGEINT) END)) AS su
                    FROM fh))
    """


@query(oracle="""
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """)
def q_exact_dedup(spark, sf_dir):
    """Exact dedup via md5-hash groupBy (16-byte shuffle keys)."""
    return exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


@query(oracle="""
            WITH g AS (
              SELECT CAST(floor(doc_id / 5) AS BIGINT) AS gid,
                     string_agg(text, chr(10)||chr(10) ORDER BY doc_id)
                       AS text
              FROM documents GROUP BY 1
            ),
            p AS (
              SELECT gid,
                     unnest(string_split(text, chr(10)||chr(10))) AS para,
                     unnest(range(1, len(string_split(text,
                       chr(10)||chr(10))) + 1)) AS pos
              FROM g
            ),
            r AS (
              SELECT gid, pos, para,
                     CASE WHEN length(trim(para)) >= 1
                          THEN row_number() OVER (
                            PARTITION BY md5(trim(para))
                            ORDER BY gid, pos)
                          ELSE 1 END AS rn
              FROM p
            )
            SELECT gid,
                   coalesce(string_agg(para, chr(10)||chr(10)
                     ORDER BY pos) FILTER (WHERE rn = 1), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_paragraphs,
                   CAST(count(*) FILTER (WHERE rn <> 1) AS BIGINT)
                     AS n_removed
            FROM r GROUP BY gid
        """)
def q_paragraph_dedup(spark, sf_dir):
    """Sub-document exact dedup (dedup.paragraph_exact_dedup — the
    keep-first-occurrence repeated-passage removal of Lee et al. 2022):
    documents are composed into 5-paragraph super-documents (group of
    doc_id div 5, paragraphs joined in doc_id order), then every later
    occurrence of a repeated paragraph — the corpus's exact-duplicate
    texts, crossing super-document boundaries — drops, and documents
    reassemble in original order.  One posexplode, ONE window shuffle
    on md5(paragraph) (16-byte keys), one reassembly groupBy; no
    self-join, cost O(paragraphs) not O(pairs)."""
    from gdp_etl_spark.operators.dedup import paragraph_exact_dedup

    grouped = (
        _t(spark, sf_dir, "documents")
        .groupBy(
            F.floor(F.col("doc_id") / 5).cast("long").alias("gid")
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n\n",
            ).alias("text")
        )
    )
    return paragraph_exact_dedup(grouped, "text", "gid")


@query(oracle="""
            WITH m AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, text FROM documents
            ),
            s AS (
              SELECT doc_id, text,
                     CAST((doc_id * 2654435761) % 997 AS BIGINT) AS quality
              FROM m
              UNION ALL
              -- NULL-branch fixture rows (mirror the Spark query): NULL
              -- texts are ONE dup group; NULL quality ranks last
              SELECT * FROM (VALUES
                (CAST(900001 AS BIGINT), CAST(NULL AS VARCHAR),
                 CAST(7 AS BIGINT)),
                (CAST(900002 AS BIGINT), CAST(NULL AS VARCHAR),
                 CAST(NULL AS BIGINT)),
                (CAST(900003 AS BIGINT), CAST(NULL AS VARCHAR),
                 CAST(3 AS BIGINT)),
                (CAST(900004 AS BIGINT), 'null-quality-duel',
                 CAST(NULL AS BIGINT)),
                (CAST(900005 AS BIGINT), 'null-quality-duel',
                 CAST(5 AS BIGINT))
              ) t(doc_id, text, quality)
            )
            SELECT doc_id, text, quality,
                   CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                     AS dup_count
            FROM s
            QUALIFY row_number() OVER (
              PARTITION BY md5(text)
              ORDER BY quality DESC NULLS LAST, doc_id) = 1
        """)
def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware exact dedup (dedup.exact_dedup_keep_best): the
    corpus is mirrored (same text, shifted ids — the re-crawl /
    multi-source shape) and each copy carries a deterministic quality
    score; the survivor per text is the highest-quality copy, ties on
    ascending id.  Shuffles key on md5(text): winners partial-aggregate
    map-side, join back is AQE-skew-splittable.  The fixture unions in
    NULL-text and NULL-quality rows so the oracle exercises the NULL
    branches: NULL texts form ONE dup group (one survivor); a
    NULL-quality copy loses to any real-quality copy (DESC NULLS
    LAST)."""
    from gdp_etl_spark.operators.dedup import exact_dedup_keep_best

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirrored = docs.unionByName(
        docs.select(
            (F.col("doc_id") + F.lit(100000)).cast("long").alias("doc_id"),
            "text",
        )
    )
    scored = mirrored.withColumn(
        "quality",
        F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(997)).cast(
            "long"
        ),
    )
    nulls = spark.sql(
        """
        SELECT * FROM VALUES
          (CAST(900001 AS BIGINT), CAST(NULL AS STRING), CAST(7 AS BIGINT)),
          (CAST(900002 AS BIGINT), CAST(NULL AS STRING), CAST(NULL AS BIGINT)),
          (CAST(900003 AS BIGINT), CAST(NULL AS STRING), CAST(3 AS BIGINT)),
          (CAST(900004 AS BIGINT), 'null-quality-duel', CAST(NULL AS BIGINT)),
          (CAST(900005 AS BIGINT), 'null-quality-duel', CAST(5 AS BIGINT))
        AS t(doc_id, text, quality)
        """
    )
    return exact_dedup_keep_best(
        scored.unionByName(nulls), "text", "doc_id", "quality"
    )


@query(oracle="""
            WITH corpus AS (
              SELECT doc_id, text, lang, source FROM documents
              WHERE doc_id % 5 < 3
            ),
            newdocs AS (
              SELECT doc_id, text, lang, source FROM documents
              WHERE doc_id % 5 >= 3
            ),
            batch AS (
              SELECT * FROM newdocs
              UNION ALL
              SELECT doc_id + 400000, text, lang, source FROM newdocs
              UNION ALL
              SELECT doc_id + 200000, text, lang, source FROM corpus
            ),
            surv AS (
              SELECT *,
                     CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                       AS batch_dup_count
              FROM batch
              QUALIFY row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id) = 1
            )
            SELECT doc_id, text, lang, source, batch_dup_count
            FROM surv s
            WHERE NOT EXISTS (
              SELECT 1 FROM corpus c WHERE md5(c.text) = md5(s.text))
        """)
def q_incremental_dedup(spark, sf_dir):
    """Incremental ingestion dedup (dedup.incremental_exact_dedup — the
    daily-crawl production shape of exact_dedup): the corpus is 60% of
    the documents table; the batch is the other 40% (each text arriving
    twice — the mirror/re-crawl shape) plus a full re-crawl of the
    corpus itself.  Survivors are exactly the new texts (lowest id,
    batch_dup_count=2); every corpus re-crawl is anti-joined away
    against the 16-byte md5 index.  ONE window shuffle on the batch,
    hash-only shuffle on the corpus side — document bodies never move
    for the membership test."""
    from gdp_etl_spark.operators.dedup import incremental_exact_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) < 3)
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) >= 3)

    def shifted(d, k):
        return d.select(
            (F.col("doc_id") + F.lit(k)).cast("long").alias("doc_id"),
            "text", "lang", "source",
        )

    batch = new.unionByName(shifted(new, 400000)).unionByName(
        shifted(corpus, 200000)
    )
    out = incremental_exact_dedup(batch, corpus, "text", "doc_id")
    return out.select(
        "doc_id", "text", "lang", "source", "batch_dup_count"
    )


@query(oracle=r"""
            WITH m AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, '** ' || upper(text) || ' ... '
              FROM documents
            ),
            n AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(regexp_replace(
                       translate(lower(coalesce(text, '')),
                         'áàâäãåéèêëíìîïóòôöõúùûüçñýÿ',
                         'aaaaaaeeeeiiiiooooouuuucnyy'),
                       '[0-9]', '0', 'g'),
                       '[^\p{L}\p{N}\s]', '', 'g'),
                       '\s+', ' ', 'g')) AS norm
              FROM m
            )
            SELECT min(doc_id) AS doc_id,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM n GROUP BY md5(norm)
        """)
def q_norm_dedup(spark, sf_dir):
    """Normalized exact dedup (text.normalize_for_dedup — the CCNet
    hash-normalization stage): the corpus is mirrored with case flips
    and punctuation decoration; dedup keyed on the canonical form
    (lower → accent fold → digits→0 → strip punct → collapse ws)
    collapses every pair that raw exact hashing would miss.  Map-only
    normalization + the same single md5-window shuffle as
    exact_dedup."""
    from gdp_etl_spark.functions.text import normalize_for_dedup
    from gdp_etl_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirror = docs.select(
        (F.col("doc_id") + F.lit(100000)).cast("long").alias("doc_id"),
        F.concat(
            F.lit("** "), F.upper("text"), F.lit(" ... ")
        ).alias("text"),
    )
    both = docs.unionByName(mirror)
    normed = both.select(
        "doc_id", normalize_for_dedup(F.col("text")).alias("norm")
    )
    return exact_dedup(normed, "norm", "doc_id")


# same admission semantics as incremental_dedup, exercised
# through the PERSISTED bucketed index; text equality stands in
# for md5 equality (injective for dedup purposes on both sides)
@query(oracle="""
            WITH corpus AS (
              SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
            ),
            batch AS (
              SELECT doc_id, text, lang, source FROM documents
              WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 10000, text, lang, source FROM documents
              WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 20000, text, lang, source FROM documents
              WHERE doc_id % 10 = 5
            ),
            surv AS (
              SELECT *,
                     CAST(count(*) OVER (PARTITION BY text) AS BIGINT)
                       AS batch_dup_count
              FROM batch
              QUALIFY row_number() OVER (
                PARTITION BY text ORDER BY doc_id) = 1
            )
            SELECT doc_id, lang, source, batch_dup_count
            FROM surv s
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = s.text)
        """)
def q_index_dedup(spark, sf_dir):
    """Materialized dedup-index cycle (dedup.write_dedup_index +
    dedup_against_index — the persisted production shape promised by
    incremental_exact_dedup's docstring): the even-id half of the
    documents table is written ONCE as a bucketed, bucket-sorted
    md5(text) index table; today's batch (the odd half, plus a
    re-crawl of every %10==0 corpus doc and a second copy of every
    %10==5 batch doc) then anti-joins against it.  The plan is the
    point (pinned in tests/test_plans_quality.py): the index side has
    NO Exchange and NO Sort — bucket files stream straight into the
    SortMergeJoin LeftAnti — so a daily 100-TB-corpus membership test
    moves only the batch.  Survivors: the 250 odd docs (re-crawls
    anti-joined away, in-batch copies collapsed onto the lowest id
    with batch_dup_count=2 for the %10==5 texts)."""
    import shutil

    from gdp_etl_spark.operators.dedup import (
        dedup_against_index,
        write_dedup_index,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    table = "dedup_md5_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a crashed earlier run can leave the managed location behind with
    # no catalog entry; saveAsTable then refuses the name
    wh = spark.conf.get("spark.sql.warehouse.dir")
    shutil.rmtree(
        os.path.join(wh.removeprefix("file:"), table), ignore_errors=True
    )
    write_dedup_index(corpus, "text", table, n_buckets=8)

    def shifted(d, k):
        return d.select(
            (F.col("doc_id") + F.lit(k)).cast("long").alias("doc_id"),
            "text", "lang", "source",
        )

    batch = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        .unionByName(
            shifted(docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0), 10000)
        )
        .unionByName(
            shifted(docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 5), 20000)
        )
    )
    out = dedup_against_index(spark, batch, "text", "doc_id", table)
    return out.select("doc_id", "lang", "source", "batch_dup_count")


# windows of 20 whitespace tokens, global first occurrence by
# (doc_id, position), token-granularity rebuild
@query(oracle=r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(coalesce(text, ''),
                                                    '\s+'),
                                 x -> x <> '') AS tk
              FROM documents
            ),
            wins AS (
              SELECT doc_id, i AS pos,
                     array_to_string(tk[(i*20+1):((i+1)*20)], ' ') AS win
              FROM toks, unnest(
                CASE WHEN len(tk) = 0 THEN [0]
                     ELSE range(0, CAST(ceil(len(tk) / 20.0) AS INT))
                END) AS u(i)
            ),
            ranked AS (
              SELECT doc_id, pos, win,
                     CASE WHEN length(win) > 0
                          THEN row_number() OVER (
                            PARTITION BY win ORDER BY doc_id, pos)
                          ELSE 1 END AS rk
              FROM wins
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN rk = 1 THEN win END, ' '
                                       ORDER BY pos), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_removed
            FROM ranked
            GROUP BY doc_id
        """)
def q_substring_dedup(spark, sf_dir):
    """Exact-substring dedup at token-window granularity
    (dedup.token_window_dedup — the Lee et al. 50-token criterion
    approximated without suffix arrays, here at 20 tokens so the
    synthetic docs yield multiple windows): consecutive 20-token
    windows dedup globally keep-first-occurrence, catching verbatim
    passages copied across documents that whole-doc and
    paragraph-boundary dedup both miss.  Same O(tokens) shape as
    paragraph_dedup: map-side sequence+slice fan-out, ONE window
    shuffle on md5(window), one reassembly groupBy — no self-join, no
    pairs."""
    from gdp_etl_spark.operators.dedup import token_window_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_window_dedup(docs, "text", "doc_id", window_tokens=20)


@query(oracle="""
            WITH g AS (
              SELECT CAST(floor(doc_id / 5) AS BIGINT) AS gid,
                     '== SITE BANNER: accept cookies ==' || chr(10) ||
                     string_agg(text, chr(10) ORDER BY doc_id) || chr(10)
                     || 'lang: ' || min(lang) AS text
              FROM documents GROUP BY 1
            ),
            p AS (
              SELECT gid,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(range(1, len(string_split(text, chr(10)))
                       + 1)) AS pos
              FROM g
            ),
            f AS (
              SELECT gid, pos, line,
                     length(trim(line)) >= 1
                       AND count(DISTINCT gid) OVER (
                             PARTITION BY md5(trim(line))) > 2
                       AS dropped
              FROM p
            )
            SELECT gid,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                     FILTER (WHERE NOT dropped), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(count(*) FILTER (WHERE dropped) AS BIGINT)
                     AS n_removed
            FROM f GROUP BY gid
        """)
def q_boilerplate_lines(spark, sf_dir):
    """Corpus-frequency boilerplate removal (dedup.boilerplate_line_filter
    — the CCNet/RefinedWeb line-dedup stage): 5-document pages share an
    injected site banner and a per-language footer; any trimmed line
    occurring in MORE than 2 distinct pages (banner: all 100, footers:
    ~20 each) is removed EVERYWHERE — unlike paragraph_dedup's
    keep-first — and pages reassemble in original line order.  One
    posexplode + ONE window shuffle (dense_rank + max over the same
    md5(line) partitioning, blank lines salted out) + one reassembly
    groupBy; cost O(lines), never O(pairs)."""
    from gdp_etl_spark.operators.dedup import boilerplate_line_filter

    pages = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.floor(F.col("doc_id") / 5).cast("long").alias("gid"))
        .agg(
            F.concat_ws(
                "\n",
                F.lit("== SITE BANNER: accept cookies =="),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "text"))
                        ),
                        lambda s: s["text"],
                    ),
                    "\n",
                ),
                F.concat(F.lit("lang: "), F.min("lang")),
            ).alias("text")
        )
    )
    return boilerplate_line_filter(
        pages, "text", "gid", max_doc_freq=2, line_sep="\n"
    )


@query(oracle=f"""
            WITH sh AS (SELECT doc_id, {sh8} AS sh FROM documents),
            e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            w AS (
              SELECT doc_id, g,
                     count(*) OVER (PARTITION BY g) AS freq
              FROM e
            ),
            agg AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_shingles,
                     CAST(count(*) FILTER (WHERE freq > 1) AS BIGINT)
                       AS n_dup
              FROM w GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup,
                   CASE WHEN coalesce(a.n_shingles, 0) > 0
                        THEN CAST(a.n_dup AS DOUBLE)
                             / CAST(a.n_shingles AS DOUBLE)
                        ELSE 0.0 END AS dup_frac
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """)
def q_dup_ngram_profile(spark, sf_dir):
    """Per-document duplicated-8-gram fraction
    (dedup.duplicated_ngram_profile — the Gopher/RefinedWeb
    repetition-across-the-corpus quality signal): share of each
    document's distinct 8-token shingles that occur in any other
    document.  One explode + ONE count window on md5(shingle) (NULLs
    salted per-doc) + one groupBy; O(total shingles), no pairs."""
    from gdp_etl_spark.operators.dedup import duplicated_ngram_profile

    return duplicated_ngram_profile(
        _t(spark, sf_dir, "documents"), "text", "doc_id", n=8
    )


@query(oracle=f"""
            WITH sh AS (SELECT doc_id, {sh} AS sh FROM documents)
            SELECT * FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               AND len(a.sh) * 5 >= len(b.sh) * 4
               AND len(b.sh) * 5 >= len(a.sh) * 4)
            WHERE jaccard >= 0.8
        """)
def q_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding near-dup pairs, exact-Jaccard verified.
    Oracle = exact all-pairs Jaccard.  Recall soundness, stated
    honestly: with 8 bands × 2 rows the per-pair miss bound at exactly
    J=0.8 is (1−J²)⁸ ≈ 2.8e-4 — NOT vanishing; what makes the check
    safe is the fixture's measured margin (every true pair has
    J ≥ 0.875 → bound ≤ 8.9e-6, next pair down at J=0.015) plus
    determinism (the hash family is fixed, so the outcome is
    per-fixture constant — green since r3 means zero misses ON this
    data).  batch_screen uses 16×1 banding instead, whose bound is
    sound at the threshold itself."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        num_perm=16, bands=8, jaccard_threshold=0.8,
    )


@query(oracle=f"""
            WITH {_simhash_sig_sql()}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                     AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """)
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 3 via 4×16-bit pigeonhole).
    Fully oracle-checked: FNV-1a-64 *is* SQL-expressible — the DuckDB
    oracle folds the hash over token code points with HUGEINT modular
    arithmetic, rebuilds the 64-bit majority-vote signature per document
    and takes hamming ≤ 3 over all pairs (bounded corpus; the Spark side
    stays pigeonhole-blocked)."""
    return simhash_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3)


# exact all-pairs 8-gram Jaccard: sound oracle for the LSH-blocked
# Spark side because P[band miss] <= (1 - J^2)^16 ~ 2e-6 at J=0.75
# (equality with the exact set verified at sf0.01 and sf0.1)
@query(oracle=f"""
            WITH sh AS (SELECT doc_id, {sh8} AS sh FROM documents)
            SELECT * FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            WHERE jaccard >= 0.75
        """)
def q_ngram_jaccard(spark, sf_dir):
    """Blocked n-gram Jaccard pairs — the blocking key is MinHash LSH
    band buckets (32 perms × 16 bands), NOT a low-cardinality attribute:
    within-block work stays bounded by true near-dup density at any
    scale.  Oracle = exact all-pairs 8-gram Jaccard ≥ 0.75 (P[LSH miss]
    per true pair = (1 − J²)¹⁶ ≤ 2e-6 at the threshold; equality with
    the exact pair set is asserted at sf0.01 and sf0.1)."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        num_perm=32, bands=16, shingle_k=8, jaccard_threshold=0.75,
    )


@query(oracle=f"""
            SELECT doc_id, list_min(list_transform({sh}, s -> md5(s))) AS fp
            FROM documents
        """)
def q_fingerprint(spark, sf_dir):
    """Document fingerprint: min md5(shingle) — portable k=1 MinHash."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text"), 5).alias("fp"))


@query(oracle="""
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                     (acc, x) -> (acc * 31 + x) % 2147483647) AS content_hash
            FROM documents
        """)
def q_content_hash(spark, sf_dir):
    """Rabin-Karp rolling content hash per document — a JVM-side
    character fold, no UDF."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_content_hash(F.col("text")).alias("content_hash"))


@query(oracle="""
            WITH v AS (
                SELECT doc_id AS id,
                       lower(trim(coalesce(text, ''))) AS t,
                       CAST(floor(length(lower(trim(coalesce(text, '')))) / 16)
                            AS BIGINT) AS band
                FROM documents
            ), lft AS (
                SELECT id, t, unnest([band - 1, band, band + 1]) AS band FROM v
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(levenshtein(a.t, b.t) AS INT) AS dist
            FROM lft a JOIN v b ON a.band = b.band AND a.id < b.id
            WHERE abs(length(a.t) - length(b.t)) <= 16
              AND levenshtein(a.t, b.t) <= 16
        """)
def q_fuzzy_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs: length-band blocked equi-join (±1
    band expansion, never all-pairs), length-difference prefilter, then
    early-exit thresholded levenshtein."""
    from gdp_etl_spark.operators.dedup import fuzzy_levenshtein_pairs

    d = _t(spark, sf_dir, "documents")
    return fuzzy_levenshtein_pairs(d, "text", "doc_id", max_dist=16)


@query(oracle=f"""
            WITH RECURSIVE
            sh AS (SELECT doc_id, {sh} AS sh FROM documents),
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, {jaccard} AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
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
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS cluster_id,
                   d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        """)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → transitive clusters → canonical documents (the
    dedup pipeline's final step: min-label propagation connected
    components).  Oracle: exact all-pairs Jaccard pairs (same recall
    rationale as ``minhash_lsh`` — see its docstring for the honest
    at-threshold bound) fed through a DuckDB ``WITH RECURSIVE``
    reachability walk — component = min reachable doc_id."""
    from gdp_etl_spark.operators.cluster import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", num_perm=16, bands=8, jaccard_threshold=0.8
    )
    out = dedup_clusters(docs.select("doc_id", "lang"), pairs, "doc_id")
    return out.select("doc_id", "cluster_id", "is_canonical")


# the Bloom filter replayed bit-for-bit (same md5 folds, same
# 63-bit words) plus the exact membership it prefilters
@query(oracle="""
            WITH corpus AS (
              SELECT DISTINCT coalesce(md5(text), 'NULLTEXT') AS ck
              FROM documents WHERE doc_id % 4 = 0),
            hpos AS (
              SELECT ck,
                     CAST(('0x' || substr(md5(ck || ':' ||
                       CAST(j AS VARCHAR) || ':bloom'), 1, 15)) AS BIGINT)
                       % 65536 AS pos
              FROM corpus, (VALUES (0), (1), (2), (3)) t(j)),
            words AS (
              SELECT CAST(pos // 63 AS INT) AS widx,
                     bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT))
                       AS word
              FROM hpos GROUP BY 1),
            batch AS (
              SELECT doc_id, coalesce(md5(text), 'NULLTEXT') AS k
              FROM documents WHERE doc_id % 4 = 2
              UNION ALL
              SELECT -doc_id, coalesce(md5(text), 'NULLTEXT')
              FROM documents WHERE doc_id % 20 = 0),
            bp AS (
              SELECT doc_id, k,
                     CAST(('0x' || substr(md5(k || ':' ||
                       CAST(j AS VARCHAR) || ':bloom'), 1, 15)) AS BIGINT)
                       % 65536 AS pos
              FROM batch, (VALUES (0), (1), (2), (3)) t(j)),
            hit AS (
              SELECT doc_id, k,
                     bool_and((COALESCE(w.word, 0) &
                       (CAST(1 AS BIGINT) << CAST(pos % 63 AS INT))) <> 0)
                       AS bloom_hit
              FROM bp LEFT JOIN words w ON w.widx = CAST(pos // 63 AS INT)
              GROUP BY 1, 2)
            SELECT h.doc_id, h.bloom_hit,
                   h.bloom_hit AND EXISTS (
                     SELECT 1 FROM corpus c WHERE c.ck = h.k) AS is_dup
            FROM hit h
        """)
def q_bloom_screen(spark, sf_dir):
    """Bloom-prefiltered exact-dedup screen (dedup.bloom_screen_dedup):
    the %4==0 quarter is the corpus; the batch is the %4==2 quarter
    plus verbatim mirrors (negated ids) of every %20==0 corpus doc.
    The filter is built from portable md5 folds into bit_or-aggregated
    63-bit words (parameter-bounded driver collect), the probe is
    map-only against the literal words, and only bloom_hit rows reach
    the confirming semi-join — the approximation changes COST, never
    the answer (false negatives impossible; false positives resolved
    by the join).  The oracle replays the filter bit-for-bit (same
    folds, same words) AND the exact membership, so both bloom_hit and
    is_dup hash-match."""
    from gdp_etl_spark.operators.dedup import bloom_screen_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 2).unionByName(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0).select(
            (-F.col("doc_id")).alias("doc_id"), "text"
        )
    )
    return bloom_screen_dedup(batch, corpus, "text", "doc_id")


# prefix filter replayed: same rarest-first order, exact prefix
# len, integer-millis verification
@query(oracle=r"""
            WITH sampled AS (
              SELECT * FROM documents
              WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                          || ':' || 'pj'), 1, 8)) AS BIGINT) < 1288490188
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(list_distinct(string_split_regex(
                         lower(trim(text)), '\s+')), x -> x <> '') AS tk
              FROM sampled
              WHERE len(list_filter(list_distinct(string_split_regex(
                         lower(trim(text)), '\s+')), x -> x <> '')) > 0
            ),
            tok_rows AS (
              SELECT t.doc_id, u.tok
              FROM toks t, unnest(t.tk) AS u(tok)
            ),
            freq AS (SELECT tok, COUNT(*) AS tf FROM tok_rows GROUP BY tok),
            ordered AS (
              SELECT tr.doc_id, list(tr.tok ORDER BY f.tf, tr.tok) AS ord
              FROM tok_rows tr JOIN freq f USING (tok)
              GROUP BY tr.doc_id
            ),
            pref AS (
              SELECT doc_id,
                     unnest(list_slice(ord, 1,
                       CAST(len(ord)
                            - floor((800 * len(ord) + 999) / 1000)
                            + 1 AS INT))) AS tok
              FROM ordered
            ),
            cands AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM pref a JOIN pref b
                ON a.tok = b.tok AND a.doc_id < b.doc_id
            ),
            v AS (
              SELECT id_a, id_b,
                     CAST(len(list_filter(ta.tk,
                          x -> list_contains(tb.tk, x))) AS BIGINT) AS i,
                     CAST(len(ta.tk) AS BIGINT) + CAST(len(tb.tk) AS BIGINT)
                       - CAST(len(list_filter(ta.tk,
                          x -> list_contains(tb.tk, x))) AS BIGINT) AS u
              FROM cands
              JOIN toks ta ON id_a = ta.doc_id
              JOIN toks tb ON id_b = tb.doc_id
            )
            SELECT id_a, id_b, i AS n_common,
                   CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
            FROM v WHERE i * 1000 >= 800 * u
        """)
def q_prefix_jaccard(spark, sf_dir):
    """PPJoin-style prefix-filtered set-similarity self-join
    (dedup.prefix_filter_jaccard_pairs) at Jaccard ≥ 0.8 over the
    documents' word sets: candidates share a token within each other's
    rarest-token prefix (provably lossless; brute-force parity
    unit-tested), then exact integer set verification.  The adaptive
    alternative to bucket-blocked Jaccard — prefix tokens are each
    doc's rarest, so fan-out stays bounded even under a shared head
    vocabulary.  Runs over a deterministic 30% hash sample: the synthetic
    corpus is built of ~250-doc vocabulary-sharing clusters, so the
    TRUE pair set is quadratic in cluster size (3M pairs at sf0.1) —
    sampling bounds the demo's pair volume ~9x while the lossless
    parity of the filter itself stays brute-force unit-tested."""
    from gdp_etl_spark.operators.dedup import prefix_filter_jaccard_pairs
    from gdp_etl_spark.operators.sampling import hash_sample

    d = hash_sample(_t(spark, sf_dir, "documents"), "doc_id", 0.3, seed="pj")
    return prefix_filter_jaccard_pairs(d, "text", "doc_id", threshold=0.8)


# the minhash_index batch mirrors: same shingling over the
# suffix-edited text
sh_mirror = sh.replace(
    "trim(text)", "trim(text || ' slightly changed mirror')"
)


# exhaustive brute-force near-dup oracle: every (batch, corpus)
# pair's exact Jaccard over the same distinct 5-token shingles;
# LSH recall at 0.8 with 8 bands x 2 rows is lossless whp
@query(oracle=f"""
            WITH corpus AS (
              SELECT doc_id AS corpus_id, {sh} AS sh
              FROM documents WHERE doc_id % 4 = 0
            ),
            batch AS (
              SELECT doc_id AS batch_id, {sh} AS sh
              FROM documents WHERE doc_id % 4 = 2
              UNION ALL
              SELECT doc_id + 10000 AS batch_id, {sh_mirror} AS sh
              FROM documents WHERE doc_id % 20 = 0
            ),
            scored AS (
              SELECT batch_id, corpus_id,
                     len(list_intersect(b.sh, c.sh)) AS i,
                     len(b.sh) + len(c.sh)
                       - len(list_intersect(b.sh, c.sh)) AS u
              FROM batch b JOIN corpus c
                ON len(b.sh) > 0 AND len(c.sh) > 0
            )
            SELECT batch_id, corpus_id,
                   CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
            FROM scored WHERE i * 1000 >= 800 * u
        """)
def q_minhash_index(spark, sf_dir):
    """Materialized NEAR-dup index (dedup.write_minhash_index +
    near_dup_against_index — the MinHash-LSH sibling of index_dedup):
    the %4==0 quarter of the documents table is persisted ONCE as two
    bucketed tables (band memberships + shingle-hash sets); today's
    batch (the %4==2 quarter plus a lightly-edited mirror of every
    %20==0 corpus doc) is then screened bucket-in-place — banded candidates
    against the band table, exact-Jaccard verification against the
    sets table, neither with an index-side shuffle (plan-pinned).
    Threshold 0.8 with 8 bands x 2 rows: the suffix-edited mirrors sit
    far above the threshold (fixture pairs measured J ≥ 0.875, bound
    ≤ 8.9e-6 per pair) and the fixed hash family makes the outcome
    per-fixture deterministic, so the exact brute-force oracle is
    exhaustive on this data (see minhash_lsh for the honest
    at-threshold math)."""
    import shutil

    from gdp_etl_spark.operators.dedup import (
        near_dup_against_index,
        write_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    table = "minhash_band_index"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (table, f"{table}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    write_minhash_index(
        corpus, "text", "doc_id", table, num_perm=16, bands=8, n_buckets=8
    )
    mirror = docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0).select(
        (F.col("doc_id") + F.lit(10000)).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" slightly changed mirror")).alias(
            "text"
        ),
    )
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 2).unionByName(
        mirror
    )
    return near_dup_against_index(
        spark, batch, "text", "doc_id", table,
        num_perm=16, bands=8, jaccard_threshold=0.8,
    )


# exact all-pairs Hamming filter over the same md5-derived
# 60-bit signatures (spread-bit mask = 2^0+2^16+2^32+2^48)
@query(oracle="""
            WITH sig AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 1
                          THEN xor(CAST(('0x' || substr(md5('g' ||
                                     CAST(doc_id % 25 AS VARCHAR)), 1, 15))
                                   AS BIGINT),
                                   CAST(281479271743489 AS BIGINT))
                          ELSE CAST(('0x' || substr(md5('g' ||
                                 CAST(doc_id % 25 AS VARCHAR)), 1, 15))
                               AS BIGINT)
                     END AS sig
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 4
        """)
def q_hamming_d4(spark, sf_dir):
    """Pigeonhole Hamming pairing ABOVE the old fixed-split limit
    (dedup.hamming_pairs, max_hamming=4 → 5 derived chunks): 60-bit
    md5-derived signatures per resource group; odd ids carry the same
    signature XOR four spread bits (0/16/32/48) — exactly the pairs a
    4×16-bit split can never emit, because every 16-bit chunk differs.
    Same-parity same-group pairs land at hamming 0, cross-parity at
    hamming 4; the oracle is the exact all-pairs bit_count(xor)
    filter, so both the recall fix and the verify stage are
    driver-checked end-to-end."""
    from gdp_etl_spark.operators.dedup import hamming_pairs

    base = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("g"),
                    F.pmod(F.col("doc_id"), F.lit(25)).cast("string"),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    sig = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 1,
            base.bitwiseXOR(F.lit(281479271743489)),
        )
        .otherwise(base)
        .alias("sig"),
    )
    return hamming_pairs(sig, "sig", "doc_id", max_hamming=4)


# indexed list_filter keep-first replay (1-based i; prefix =
# lines[1:i-1]); single-char separator always survives
@query(oracle="""
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES
                (CAST(-1 AS BIGINT),
                 'a.b' || chr(10) || 'axb' || chr(10) || 'a.b'
                 || chr(10) || '[x]+' || chr(10) || '[x]+'),
                (CAST(-2 AS BIGINT),
                 'dup line' || chr(10) || 'dup line' || chr(10)
                 || 'unique' || chr(10) || 'dup line')
              ) v(doc_id, text)
            ),
            m AS (
              SELECT doc_id,
                     '== SITE BANNER ==' || chr(10) || coalesce(text, '')
                     || chr(10) || '-' || chr(10) || '== SITE BANNER =='
                     || chr(10) || coalesce(text, '') AS t,
                     '== SITE BANNER ==' || '|' || coalesce(text, '')
                     || '|' || '-' || '|' || '== SITE BANNER =='
                     || '|' || coalesce(text, '') AS tp
              FROM base
            )
            SELECT doc_id,
                   array_to_string(
                     list_filter(string_split(t, chr(10)),
                       (x, i) -> length(trim(x)) < 2
                              OR list_position(
                                   string_split(t, chr(10))[1:i-1], x) = 0),
                     chr(10)) AS text,
                   array_to_string(
                     list_filter(string_split(tp, '|'),
                       (x, i) -> length(trim(x)) < 2
                              OR list_position(
                                   string_split(tp, '|')[1:i-1], x) = 0),
                     '|') AS text_pipe
            FROM m
        """)
def q_line_dedup_doc(spark, sf_dir):
    """Within-document repeated-line removal (text.dedup_lines_in_doc,
    the RefinedWeb per-doc rule — complementary to the cross-document
    boilerplate_lines): each doc is rebuilt as banner/text/separator/
    banner/text, and the dedup keeps the first banner and first text
    while the single-char separator (formatting) always survives.
    Pure indexed-HOF expression: map-only, zero shuffle, O(lines²)
    bounded per document."""
    from gdp_etl_spark.functions.text import dedup_lines_in_doc
    from gdp_etl_spark.session import local_df

    # the source column is renamed AWAY from the output alias before
    # the dedup expressions are built: with both named "text", Spark
    # 4's lateral-column-alias resolution binds references INSIDE a
    # higher-order-function lambda to the earlier output alias while
    # the same expression OUTSIDE the lambda binds to the input column
    # (input precedence) — the prefix test then walks the wrong lines
    # array.  Found by this query's pipe variant; pinned by
    # tests/test_text_dedup.py::test_lateral_alias_lambda_isolation.
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("raw")
    )
    body = F.coalesce(F.col("raw"), F.lit(""))
    multi = F.concat_ws(
        "\n",
        F.lit("== SITE BANNER =="), body, F.lit("-"),
        F.lit("== SITE BANNER =="), body,
    )
    # same document rebuilt with '|' as the line separator: '|' is a
    # regex metachar, so an unescaped F.split would split between
    # EVERY character while the rejoin stayed literal — this column
    # pins the escape (the oracle's string_split is literal-only)
    multi_pipe = F.concat_ws(
        "|",
        F.lit("== SITE BANNER =="), body, F.lit("-"),
        F.lit("== SITE BANNER =="), body,
    )
    # adversarial rows (negative ids, mirrored in the oracle): lines
    # whose CONTENT is regex metachars (dedup compares by equality,
    # never by pattern — 'a.b' must not absorb 'axb'), and an embedded
    # repeated line inside the body itself
    adversarial = local_df(
        spark,
        [
            (-1, "a.b\naxb\na.b\n[x]+\n[x]+"),
            (-2, "dup line\ndup line\nunique\ndup line"),
        ],
        "doc_id bigint, raw string",
    )
    return d.unionByName(adversarial).select(
        "doc_id",
        dedup_lines_in_doc(multi).alias("text"),
        dedup_lines_in_doc(multi_pipe, sep="|").alias("text_pipe"),
    )


# content-defined chunking replayed: boundary after any token
# whose md5-prefix bigint has low 4 bits zero; keep-first per
# chunk text ordered by (doc_id, pos); token-granular rebuild
@query(oracle=r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                     'shifted mirror prefix ' || coalesce(text, '')
              FROM documents WHERE doc_id % 5 = 0
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(coalesce(text, ''),
                                                    '\s+'),
                                 x -> x <> '') AS tk
              FROM corpus
            ),
            bounds AS (
              SELECT doc_id, tk,
                     list_filter(range(0, len(tk)),
                       i -> CAST(('0x' || substr(
                                    md5(tk[CAST(i + 1 AS INT)]), 1, 8))
                                 AS BIGINT) % 16 = 0) AS closes
              FROM toks
            ),
            segs AS (
              SELECT doc_id, tk,
                     list_prepend(0, list_transform(closes, c -> c + 1))
                       AS starts,
                     list_append(closes, len(tk) - 1) AS ends
              FROM bounds
            ),
            chunked AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(range(0, len(starts)),
                         k -> array_to_string(
                                tk[CAST(starts[CAST(k + 1 AS INT)] + 1
                                        AS INT)
                                   : CAST(ends[CAST(k + 1 AS INT)] + 1
                                          AS INT)], ' ')),
                       x -> x <> '') AS cs
              FROM segs
            ),
            chunks AS (
              SELECT doc_id,
                     CASE WHEN len(cs) = 0 THEN [''] ELSE cs END AS cs
              FROM chunked
            ),
            wins AS (
              SELECT doc_id,
                     unnest(cs) AS win,
                     unnest(range(0, len(cs))) AS pos
              FROM chunks
            ),
            ranked AS (
              SELECT doc_id, pos, win,
                     CASE WHEN length(win) > 0
                          THEN row_number() OVER (
                            PARTITION BY win ORDER BY doc_id, pos)
                          ELSE 1 END AS rk
              FROM wins
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN rk = 1 THEN win END, ' '
                                       ORDER BY pos), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_removed
            FROM ranked GROUP BY doc_id
        """)
def q_cdc_dedup(spark, sf_dir):
    """Content-defined-chunking exact-substring dedup
    (dedup.cdc_window_dedup — the alignment-robust complement to
    substring_dedup): the corpus is unioned with a SHIFTED mirror of
    every %5==0 doc (three tokens prepended), the shape fixed windows
    structurally miss; chunk boundaries depend on token content alone
    (md5 low bits), so the mirror's interior chunks are identical to
    the original's and dedup despite the offset.  Chunking is pure
    map-side HOF work; then the family's shared skew-safe
    first-occurrence aggregation."""
    from gdp_etl_spark.operators.dedup import cdc_window_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        (F.col("doc_id") + F.lit(100000)).cast("long").alias("doc_id"),
        F.concat(F.lit("shifted mirror prefix "), F.coalesce(
            F.col("text"), F.lit("")
        )).alias("text"),
    )
    return cdc_window_dedup(
        docs.unionByName(shifted), "text", "doc_id", boundary_bits=4
    )


# the slice-signature estimate replayed exactly: same md5 fold,
# same elementwise min, same pairwise agreement count
@query(oracle=f"""
            WITH sh AS (
              SELECT source, unnest({sh}) AS s FROM documents
            ),
            hx AS (
              SELECT source, i,
                     min(CAST(('0x' || substr(md5(s || ':'
                           || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT))
                       AS hmin
              FROM sh, range(0, 32) t(i)
              GROUP BY source, i
            ),
            sig AS (
              SELECT source, list(hmin ORDER BY i) AS sig
              FROM hx GROUP BY source
            )
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(len(list_filter(range(1, 33),
                        j -> a.sig[j] = b.sig[j])) AS INT) AS n_matches,
                   CAST(len(list_filter(range(1, 33),
                        j -> a.sig[j] = b.sig[j])) AS DOUBLE) / 32.0
                     AS est_jaccard
            FROM sig a JOIN sig b ON a.source < b.source
        """)
def q_source_overlap(spark, sf_dir):
    """Pairwise corpus-slice overlap from per-slice MinHash signatures
    (sketches.source_minhash_overlap): "how much of source B is
    already in source A" without shuffling a single shingle — the
    slice signature is the elementwise min of its documents'
    signatures (map-side partial-min to |slices|×32 values), pairwise
    agreement estimates Jaccard.  The permutation hash is the portable
    md5 fold, so the oracle replays the ESTIMATE bit-exactly — unlike
    the HLL demo, this sketch is engine-replayable, not just
    error-bounded."""
    from gdp_etl_spark.operators.sketches import source_minhash_overlap

    return source_minhash_overlap(
        _t(spark, sf_dir, "documents"), "text", "source", num_perm=32
    )


# the within-batch admission stage: 16 bands x 1 row ->
# P[candidate miss] = (1-J)^16 <= 6.6e-12 AT J=0.8, so the
# exact all-pairs oracle is exhaustive at the threshold itself;
# admit = min reachable id of the exact-Jaccard pair graph
# over the batch + mirror corpus
@query(oracle=f"""
            WITH RECURSIVE
            corpus AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 20000, text || ' slightly changed mirror',
                     lang
              FROM documents WHERE doc_id % 6 = 0
            ),
            sh AS (SELECT doc_id, {sh} AS sh FROM corpus),
            p AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       {jaccard} AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
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
            SELECT c.doc_id, c.lang
            FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
            WHERE coalesce(comp.component, c.doc_id) = c.doc_id
        """)
def q_batch_screen(spark, sf_dir):
    """Within-batch near-dup admission screen (dedup.within_batch_screen
    — the third stage of streaming.ingest.run_near_dup_ingest, factored
    out as a pure batch operator): the batch = documents plus a
    suffix-edited mirror of every %6==0 doc (id+20000); mutual
    near-dups arriving in ONE batch are invisible to the corpus-index
    screens (neither is indexed yet), so the screen LSH-pairs the
    batch, clusters connected components, and admits only each
    cluster's canonical (minimum-id) member.  Oracle = exact all-pairs
    Jaccard + recursive reachability; admit iff doc_id = min reachable
    id.  Banding is 16 bands x 1 row: at the J=0.8 threshold itself,
    P[candidate miss] = (1-J)^16 <= 6.6e-12 per true pair — exhaustive
    recall AT the threshold, not just far above it (8x2 banding's bound
    at exactly J=0.8 is (1-J^2)^8 ~ 2.8e-4: a borderline fixture pair
    could flake the driver gate; single-row bands trade extra
    — exactly-verified — candidates for a sound bound)."""
    from gdp_etl_spark.operators.dedup import within_batch_screen

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mirror = docs.filter(F.pmod(F.col("doc_id"), F.lit(6)) == 0).select(
        (F.col("doc_id") + F.lit(20000)).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" slightly changed mirror")).alias(
            "text"
        ),
        F.col("lang"),
    )
    admitted = within_batch_screen(
        docs.unionByName(mirror), "text", "doc_id",
        num_perm=16, bands=16, jaccard_threshold=0.8,
    )
    return admitted.select("doc_id", "lang")
