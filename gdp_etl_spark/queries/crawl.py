"""Crawl ingestion: WARC/WET readers, markup and link extraction, URL
canonicalization, frontier admission and politeness scheduling."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import (
    lang_case, _pii_red_text, quality, _sql_str,
)


# first-principles expected canonical form (the variant
# construction is known), NOT a regex replay — an independent
# check of the Spark-side normalizer
@query(oracle="""
            WITH urls AS (
              SELECT doc_id,
                     CAST(doc_id % 25 AS VARCHAR) AS r,
                     doc_id % 4 AS v
              FROM documents
            ),
            built AS (
              SELECT doc_id,
                     CASE v
                       WHEN 0 THEN 'https://www.example.com/p/' || r
                                   || '?utm_source=feed'
                       WHEN 1 THEN 'HTTPS://EXAMPLE.COM:443/p/' || r || '/'
                       WHEN 2 THEN 'https://example.com/p/' || r || '?b=2&a=1'
                       ELSE 'https://example.com/p/' || r || '#section'
                     END AS url,
                     'https://example.com/p/' || r
                       || CASE WHEN v = 2 THEN '?a=1&b=2' ELSE '' END
                       AS canonical
              FROM urls
            )
            SELECT doc_id, url, canonical,
                   CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT)
                     AS dup_count
            FROM built
            QUALIFY row_number() OVER (
              PARTITION BY canonical ORDER BY doc_id) = 1
        """)
def q_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup (text.canonical_url — the
    CommonCrawl-pipeline stage run BEFORE text dedup): four crawl
    variants of each resource URL (www + utm tracking param; uppercase
    scheme/host + explicit :443 + trailing slash; a fragment; and a
    genuinely different query ?b=2&a=1) normalize so the first three
    collapse to one canonical form and the real-query variant stays
    distinct; dedup then keeps the lowest doc_id per canonical URL with
    its dup_count.  The canonicalizer is a pure map-only expression
    chain (regexp extract/replace + sorted filtered query params, zero
    UDF, zero shuffle); the dedup is the skew-safe min(id)+count
    aggregation with an AQE-splittable join back.  The oracle derives
    the expected canonical form from FIRST PRINCIPLES (the variant
    construction), not by replaying the regexes — an independent check
    of the normalization."""
    from gdp_etl_spark.functions.text import canonical_url

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # 25 is coprime with the 4-cycle of variants, so every resource
    # appears in ALL FOUR crawl variants (doc_id%40 would lock each
    # resource to one variant and the collapse would never fire)
    r = F.pmod(F.col("doc_id"), F.lit(25)).cast("string")
    v = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://www.example.com/p/"), r,
            F.lit("?utm_source=feed")))
        .when(v == 1, F.concat(
            F.lit("HTTPS://EXAMPLE.COM:443/p/"), r, F.lit("/")))
        .when(v == 2, F.concat(
            F.lit("https://example.com/p/"), r, F.lit("?b=2&a=1")))
        .otherwise(F.concat(
            F.lit("https://example.com/p/"), r, F.lit("#section")))
    )
    canon = docs.select(
        "doc_id", url.alias("url")
    ).withColumn("canonical", canonical_url(F.col("url")))
    # keep-first + dup count per canonical URL, skew-safe: a URL
    # crawled 10⁹× is the realistic hot key; min(id)+count aggregate
    # map-side and the join back is AQE skew-split (a rank window
    # would pin the hot canonical on one task)
    winners = canon.groupBy("canonical").agg(
        F.min("doc_id").alias("__min_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return (
        canon.join(winners, "canonical")
        .filter(F.col("doc_id") == F.col("__min_id"))
        .select("doc_id", "url", "canonical", "dup_count")
    )


#: q_warc_ingest fixture — one raw-crawl file exercising the reader's
#: whole parse surface: warcinfo/request records to filter, mixed-case
#: HTTP headers, a charset parameter to strip, a 404, and markup whose
#: links hit the url_host edge cases (www+port, scheme-relative).
_WARC_HTML = (
    '<html><head><title>T</title></head><body><p>Alpha beta gamma.</p>'
    '<A HREF="https://WWW.Ex.COM:8443/a">x</A>'
    "<a href='//cdn.ex.net/b'>y</a></body></html>"
)


_WARC_FIXTURE = (
    "WARC/1.0\r\n"
    "WARC-Type: warcinfo\r\n\r\nsoftware: fixture\r\n\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: request\r\n"
    "WARC-Target-URI: https://ex.com/page\r\n"
    "\r\nGET /page HTTP/1.1\r\nHost: ex.com\r\n\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: response\r\n"
    "WARC-Target-URI: https://user@www.Ex.com:8443/page\r\n"
    "WARC-Date: 2024-03-01T12:00:00Z\r\n"
    "\r\n"
    "HTTP/1.1 200 OK\r\n"
    "content-type: text/html; charset=UTF-8\r\n"
    "\r\n"
    f"{_WARC_HTML}\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: response\r\n"
    "WARC-Target-URI: https://other.net/missing\r\n"
    "WARC-Date: 2024-03-01T13:00:00Z\r\n"
    "\r\n"
    "HTTP/1.1 404 Not Found\r\n"
    "Content-Type: text/plain\r\n"
    "\r\n"
    "not here\r\n"
    "\r\n"
)


# the fixture is a CONSTANT, so the expected rows mirror
# verbatim (the html_strip pattern): any drift in record
# splitting, header matching, body trimming, host
# normalization or link extraction breaks the hash
@query(oracle=f"""
            SELECT * FROM (VALUES
              ('https://user@www.Ex.com:8443/page', CAST(200 AS INT),
               'text/html', 'ex.com',
               'https://WWW.Ex.COM:8443/a|//cdn.ex.net/b',
               CAST({len(_WARC_HTML)} AS BIGINT)),
              ('https://other.net/missing', CAST(404 AS INT),
               'text/plain', 'other.net', '',
               CAST(8 AS BIGINT))
            ) t(target_uri, http_status, content_type, host, links,
                payload_len)
        """)
def q_warc_ingest(spark, sf_dir):
    """Raw-crawl ingestion end to end (sources.read_warc_responses +
    text.url_host + extract_links): a constant WARC fixture lands in
    the warehouse dir, the reader parses its two header blocks per
    record (warcinfo/request filtered, charset parameter stripped,
    status as int), and one scan feeds both pipeline sides — the host
    node and the extracted link list.  The fixture is a CONSTANT, so
    the oracle mirrors the expected rows verbatim (the html_strip
    pattern): any drift in record splitting, header matching, body
    trimming, host normalization or link extraction breaks the hash."""
    import os as _os

    from gdp_etl_spark.functions.text import extract_links, url_host
    from gdp_etl_spark.sources import read_warc_responses


    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # content-addressed filename: editing _WARC_FIXTURE invalidates the
    # cached file instead of silently reading stale bytes
    tag = hashlib.md5(_WARC_FIXTURE.encode()).hexdigest()[:12]
    path = _os.path.join(wh, f"q_warc_fixture_{tag}.warc")
    if not _os.path.exists(path):
        _os.makedirs(wh, exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_WARC_FIXTURE.encode())
    recs = read_warc_responses(spark, path)
    return recs.select(
        "target_uri",
        "http_status",
        "content_type",
        url_host(F.col("target_uri")).alias("host"),
        F.concat_ws("|", extract_links(F.col("payload"))).alias("links"),
        F.length("payload").cast("bigint").alias("payload_len"),
    )


#: q_wet_ingest fixture — one WET (extracted-text crawl) file covering
#: the reader + landing-stage surface: a warcinfo preamble to filter,
#: lower-case header names and fractional-second WARC-Dates (the spec
#: fidelity fixes), a blank-body record to drop, a record with no
#: Target-URI (NULL url/source, hash on the '' sentinel), and en/de/und
#: texts for the language id.
def _wet_rec(headers, body):
    head = "".join(f"{k}: {v}\r\n" for k, v in headers)
    return "WARC/1.0\r\n" + head + "\r\n" + body + "\r\n\r\n"


_WET_FIXTURE = (
    _wet_rec([("WARC-Type", "warcinfo"), ("Content-Length", "9")],
             "robots: x")
    + _wet_rec(
        [("warc-type", "conversion"),
         ("warc-target-uri", "https://www.Example.COM:8443/en/article"),
         ("WARC-DATE", "2024-03-01T12:00:00.123Z"),
         ("Content-Length", "92")],
        "The quick brown fox jumps over the lazy dog and the rest of "
        "this page is plain English text.",
    )
    + _wet_rec(
        [("WARC-Type", "conversion"),
         ("WARC-Target-URI", "https://empty.net/blank"),
         ("WARC-Date", "2024-03-01T13:00:00Z"),
         ("Content-Length", "3")],
        "   ",
    )
    + _wet_rec(
        [("WARC-Type", "conversion"),
         ("WARC-Date", "2024-03-01T14:00:00Z"),
         ("Content-Length", "28")],
        "sin URI pero con texto util.",
    )
    + _wet_rec(
        [("WARC-Type", "conversion"),
         ("WARC-Target-URI", "http://de.beispiel.org/seite"),
         ("WARC-Date", "2024-03-01T15:00:00.5Z"),
         ("Content-Length", "64")],
        "Der schnelle braune Fuchs springt und die Seite ist auf "
        "Deutsch.",
    )
)


# constant-fixture verbatim mirror (the warc_ingest pattern):
# doc_id = Spark xxhash64(uri, text) seed 42 (deterministic),
# quality_micro = floor(quality * 1e6) — any drift in record
# split, header parse, id hashing, host/lang derivation or the
# clean_corpus quality path breaks the hash
@query(oracle="""
            SELECT * FROM (VALUES
              (CAST(-5030445573121216355 AS BIGINT),
               'https://www.Example.COM:8443/en/article', 'example.com',
               'en', CAST(92 AS BIGINT), '2024-03-01 12:00:00.123',
               CAST(743304 AS BIGINT), CAST(92 AS BIGINT)),
              (CAST(-1710350269278354878 AS BIGINT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               'und', CAST(28 AS BIGINT), '2024-03-01 14:00:00.000',
               CAST(519428 AS BIGINT), CAST(28 AS BIGINT)),
              (CAST(-6413988944502235877 AS BIGINT),
               'http://de.beispiel.org/seite', 'de.beispiel.org',
               'de', CAST(64 AS BIGINT), '2024-03-01 15:00:00.500',
               CAST(575500 AS BIGINT), CAST(64 AS BIGINT))
            ) t(doc_id, url, source, lang, n_chars, fetched_iso,
                quality_micro, clean_len)
        """)
def q_wet_ingest(spark, sf_dir):
    """WET-side crawl ingestion end to end (sources.read_wet →
    plans.corpus.wet_to_documents → clean_corpus quality/redaction):
    the constant fixture lands in the warehouse dir, the reader splits
    records and parses headers (warcinfo filtered, case-insensitive
    names, fractional-second dates), the landing stage derives the
    content-addressed xxhash64 doc_id, host source and language id and
    drops the blank record, and clean_corpus contributes the quality
    score and cleaned length.  The fixture is a CONSTANT, so the
    oracle mirrors the expected rows verbatim (the warc_ingest
    pattern): any drift in record splitting, header extraction, id
    hashing, host/lang derivation or the quality pipeline breaks the
    hash.  doc_id / quality constants are Spark-deterministic
    (xxhash64 seed 42; quality quantized to integer micros)."""
    import os as _os

    from gdp_etl_spark.plans.corpus import clean_corpus, wet_to_documents

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tag = hashlib.md5(_WET_FIXTURE.encode()).hexdigest()[:12]
    path = _os.path.join(wh, f"q_wet_fixture_{tag}.wet")
    if not _os.path.exists(path):
        _os.makedirs(wh, exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_WET_FIXTURE.encode())
    docs = wet_to_documents(spark, path)
    cleaned = clean_corpus(docs, langs=None).select(
        "doc_id",
        F.floor(F.col("quality") * 1e6).cast("bigint").alias(
            "quality_micro"
        ),
        F.length("text_clean").cast("bigint").alias("clean_len"),
    )
    return docs.join(cleaned, "doc_id", "left").select(
        "doc_id",
        "url",
        "source",
        "lang",
        "n_chars",
        F.date_format("fetched_at", "yyyy-MM-dd HH:mm:ss.SSS").alias(
            "fetched_iso"
        ),
        "quality_micro",
        "clean_len",
    )


#: q_crawl_corpus fixture — a multi-record raw crawl whose records are
#: built to trip each downstream gate exactly once: an exact-duplicate
#: page (dedup), a German page (lang routing), a symbol-spam page
#: (quality gate), a 404 and a text/plain record (parse filters), plus
#: a URL and an email in the kept page (PII redaction).
def _crawl_resp(uri, date, body, ctype="text/html", status="200 OK"):
    http = f"HTTP/1.1 {status}\r\nContent-Type: {ctype}\r\n\r\n{body}"
    return (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: {date}\r\n"
        f"Content-Length: {len(http.encode())}\r\n"
        "\r\n" + http + "\r\n\r\n"
    )


_CRAWL_HTML_EN = (
    "<html><head><title>Guide</title></head><body>"
    "<h1>A practical guide</h1><p>This page explains how the data "
    "pipeline works and why the quality of the training corpus "
    "matters for every model we build. It keeps many common "
    "English words so the classifier is confident about the "
    "language of the document.</p><p>See "
    "https://see.example.com/ref or mail a.b@example.com for "
    "details.</p></body></html>"
)
_CRAWL_HTML_DE = (
    "<html><body><p>Der schnelle braune Fuchs springt und die "
    "Seite ist auf Deutsch geschrieben. Das ist ein guter Text "
    "mit vielen deutschen Worten und einer klaren Sprache fuer "
    "den Klassifikator.</p></body></html>"
)
_CRAWL_FIXTURE = (
    "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n"
    "robots: x\r\n\r\n"
    + _crawl_resp(
        "https://en.example.com/guide", "2024-03-01T12:00:00Z",
        _CRAWL_HTML_EN,
    )
    + _crawl_resp(
        "https://mirror.example.net/guide-copy", "2024-03-01T12:05:00Z",
        _CRAWL_HTML_EN,
    )
    + _crawl_resp(
        "https://de.beispiel.org/seite", "2024-03-01T12:10:00Z",
        _CRAWL_HTML_DE,
    )
    + _crawl_resp(
        "https://junk.example.com/symbols", "2024-03-01T12:15:00Z",
        "<html><body><p>$$$ !!! ### @@@ %%%</p></body></html>",
    )
    + _crawl_resp(
        "https://gone.example.com/missing", "2024-03-01T12:20:00Z",
        "<html>not found</html>", status="404 Not Found",
    )
    + _crawl_resp(
        "https://plain.example.com/robots.txt", "2024-03-01T12:25:00Z",
        "User-agent: *", ctype="text/plain",
    )
)


# crawl front door -> curation: the PARSE+STRIP half is pinned
# verbatim (constant fixture; doc_id = Spark xxhash64(uri,text)
# seed 42, text = strip_markup output), the curation half —
# quality gate, language routing, PII redaction, exact dedup —
# is REPLAYED by the same generated fragments corpus_clean uses
@query(oracle=f"""
            WITH docs(doc_id, text) AS (VALUES
              (CAST(-8767184678506436964 AS BIGINT),
               'Guide A practical guide This page explains how the data pipeline works and why the quality of the training corpus matters for every model we build. It keeps many common English words so the classifier is confident about the language of the document. See https://see.example.com/ref or mail a.b@example.com for details.'),
              (CAST(3367110237569064559 AS BIGINT),
               'Guide A practical guide This page explains how the data pipeline works and why the quality of the training corpus matters for every model we build. It keeps many common English words so the classifier is confident about the language of the document. See https://see.example.com/ref or mail a.b@example.com for details.'),
              (CAST(4567551937992625475 AS BIGINT),
               'Der schnelle braune Fuchs springt und die Seite ist auf Deutsch geschrieben. Das ist ein guter Text mit vielen deutschen Worten und einer klaren Sprache fuer den Klassifikator.'),
              (CAST(7734203982136530895 AS BIGINT),
               '$$$ !!! ### @@@ %%%')),
            scored AS (
                SELECT doc_id, text, {quality} AS quality,
                       {lang_case} AS lang_pred
                FROM docs
            ), kept AS (
                SELECT doc_id, lang_pred, quality,
                       {_pii_red_text} AS text_clean
                FROM scored
                WHERE quality >= 0.5 AND lang_pred IN ('de', 'en')
            )
            SELECT doc_id, lang_pred, quality, text_clean FROM kept
            QUALIFY row_number()
                    OVER (PARTITION BY md5(text_clean) ORDER BY doc_id) = 1
        """)
def q_crawl_corpus(spark, sf_dir):
    """The crawl front door feeding the WHOLE curation surface in one
    query — the LLM-pipeline equivalent of corpus_curate:
    read_warc_responses (parse + status/content-type gates) →
    strip_markup → documents shape (content-addressed xxhash64 ids) →
    clean_corpus (quality gate, language routing, PII redaction, exact
    dedup).  The fixture is constant, so the PARSE+STRIP stage is
    pinned verbatim in the oracle's docs VALUES, while every curation
    stage downstream is REPLAYED by the generated CTE chain (the
    corpus_clean fragments) — a regression in either half breaks the
    hash.  Expected survivors: the lower-id copy of the duplicated
    English page (redacted) and the German page; the symbol-spam page
    dies at the quality gate, the 404/text-plain records at the parse
    gates."""
    import os as _os

    from gdp_etl_spark.functions.text import strip_markup
    from gdp_etl_spark.plans.corpus import clean_corpus
    from gdp_etl_spark.sources import read_warc_responses

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tag = hashlib.md5(_CRAWL_FIXTURE.encode()).hexdigest()[:12]
    path = _os.path.join(wh, f"q_crawl_fixture_{tag}.warc")
    if not _os.path.exists(path):
        _os.makedirs(wh, exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_CRAWL_FIXTURE.encode())
    recs = read_warc_responses(spark, path)
    docs = (
        recs.filter(
            (F.col("http_status") == 200)
            & (F.col("content_type") == "text/html")
        )
        .select(
            "target_uri", strip_markup(F.col("payload")).alias("text")
        )
        .filter(F.length(F.trim("text")) > 0)
        .select(
            F.xxhash64(
                F.coalesce("target_uri", F.lit("")), "text"
            ).alias("doc_id"),
            "text",
        )
    )
    return clean_corpus(docs, min_quality=0.5, langs=("de", "en"))


#: q_warc_parsed_fidelity fixture — the adversarial crawl input the
#: expression reader documents away: a payload quoting a full WARC
#: record (separator + header block + HTTP block) verbatim mid-body, a
#: payload ending with a bare LF (only CRLF PAIRS may be trimmed), and
#: a conversion record to type-filter.  All records carry correct
#: Content-Lengths, so the length-aware scanner must recover every
#: payload byte-exactly.
_WPF_EVIL = (
    b"Quoting a crawl record verbatim:\r\nWARC/1.0\r\n"
    b"WARC-Type: response\r\nWARC-Target-URI: https://fake.example/x\r\n"
    b"\r\nHTTP/1.1 200 OK\r\n\r\nnested body\r\nend of quote."
)
_WPF_TAIL = b"This body ends with a bare newline\n"


def _wpf_resp(uri: bytes, date: bytes, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: " + uri + b"\r\n"
        b"WARC-Date: " + date + b"\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )


_WPF_FIXTURE = (
    _wpf_resp(b"https://ex.com/quote", b"2024-03-01T12:00:00Z", _WPF_EVIL)
    + _wpf_resp(
        b"https://ex.com/tail", b"2024-03-01T13:00:00.250Z", _WPF_TAIL
    )
    + b"WARC/1.0\r\nWARC-Type: conversion\r\n"
    b"WARC-Target-URI: https://ex.com/conv\r\n"
    b"Content-Length: 4\r\n\r\nbody\r\n\r\n"
)


# verbatim mirror; payload md5s computed from the same constant
# bytes by hashlib — only the length-aware reader produces them
@query(oracle=f"""
            SELECT * FROM (VALUES
              ('https://ex.com/quote', CAST(200 AS INT), 'text/plain',
               CAST({len(_WPF_EVIL.decode())} AS BIGINT),
               '{hashlib.md5(_WPF_EVIL).hexdigest()}',
               '2024-03-01 12:00:00.000'),
              ('https://ex.com/tail', CAST(200 AS INT), 'text/plain',
               CAST({len(_WPF_TAIL.decode())} AS BIGINT),
               '{hashlib.md5(_WPF_TAIL).hexdigest()}',
               '2024-03-01 13:00:00.250')
            ) t(target_uri, http_status, content_type, payload_len,
                payload_md5, fetched_iso)
        """)
def q_warc_parsed_fidelity(spark, sf_dir):
    """Driver evidence for the LENGTH-AWARE crawl reader
    (sources.read_warc_parsed) on exactly the input the expression
    reader cannot handle: a payload embedding the full record
    separator survives byte-exactly (md5-pinned), a trailing bare LF
    is preserved (only CRLF pairs are record-tail trimmed), fractional
    WARC-Dates parse, and non-response records filter.  The oracle
    mirrors the expected rows verbatim with payload md5s cross-computed
    by hashlib — the lineSep expression reader would truncate the
    quoted record and fail this hash by construction."""
    import os as _os

    from gdp_etl_spark.sources import read_warc_parsed

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tag = hashlib.md5(_WPF_FIXTURE).hexdigest()[:12]
    path = _os.path.join(wh, f"q_wpf_fixture_{tag}.warc")
    if not _os.path.exists(path):
        _os.makedirs(wh, exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(_WPF_FIXTURE)
    return read_warc_parsed(spark, path).select(
        "target_uri",
        "http_status",
        "content_type",
        F.length("payload").cast("bigint").alias("payload_len"),
        F.md5(F.col("payload")).alias("payload_md5"),
        F.date_format("warc_date", "yyyy-MM-dd HH:mm:ss.SSS").alias(
            "fetched_iso"
        ),
    )


# WET-style extraction replayed operator-for-operator (RE2-safe
# patterns; &amp; decodes last so &amp;lt; stays &lt;)
@query(oracle=r"""
            WITH h AS (
              SELECT doc_id,
                     '<html><head><style>p{c:red}</style></head><body>'
                     || '<script>var id="' || CAST(doc_id AS VARCHAR)
                     || '";</script><h1>Doc ' || CAST(doc_id AS VARCHAR)
                     || '</h1><p class="main">' || coalesce(text, '')
                     || ' &amp; more&nbsp;&#39;end&#39;</p><!-- crawl '
                     || CAST(doc_id AS VARCHAR) || ' --></body></html>'
                       AS t
              FROM documents
              UNION ALL
              SELECT * FROM (VALUES
                (CAST(-1 AS BIGINT),
                 '<div><p>nested <b>tags</b><p>unclosed</div> tail'),
                (CAST(-2 AS BIGINT),
                 'chain &amp;lt;b&amp;gt; stays; &amp;amp; once'),
                (CAST(-3 AS BIGINT),
                 '<a title="a>b">attr-gt</a> <P CLASS=x>case</P>'),
                (CAST(-4 AS BIGINT),
                 '<SCRIPT type="t">var s=1;</SCRIPT><STYLE>q{}</STYLE>kept'),
                (CAST(-5 AS BIGINT),
                 'before<!-- multi' || chr(10) || 'line' || chr(10)
                 || 'comment -->after')
              ) v(doc_id, t)
            )
            SELECT doc_id,
                   trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(t,
                               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g'),
                         '<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                     '\s+', ' ', 'g')) AS clean_text
            FROM h
        """)
def q_html_strip(spark, sf_dir):
    """WET-style markup extraction (text.strip_markup): every document
    is wrapped in synthetic crawl HTML (head/style, a script whose body
    must NEVER leak, heading, entity-laden paragraph, comment) and the
    extractor recovers the prose — script/style drop with content,
    tags become word boundaries, the five core entities plus &nbsp;
    decode with &amp; last.  All patterns are RE2-compatible (no
    backreferences), so the oracle replays the chain
    operator-for-operator.  Map-only, zero shuffle."""
    from gdp_etl_spark.functions.text import strip_markup
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><style>p{c:red}</style></head><body>'),
        F.lit('<script>var id="'),
        F.col("doc_id").cast("string"),
        F.lit('";</script><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</h1><p class="main">'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" &amp; more&nbsp;&#39;end&#39;</p><!-- crawl "),
        F.col("doc_id").cast("string"),
        F.lit(" --></body></html>"),
    )
    # adversarial rows (negative ids, mirrored verbatim in the oracle),
    # one per documented edge: nested + unclosed block tags; an &amp;
    # chain that must STOP at one decode level (&amp;lt; -> &lt;, never
    # <; &amp;amp; -> &amp; — replace is single-pass); a '>' inside an
    # attribute value (the tag regex closes at the FIRST '>', tail
    # leaks as text — pinned, identical in both engines); mixed-case
    # script/style (the (?is) flags); a comment spanning newlines
    adversarial = local_df(
        spark,
        [
            (-1, "<div><p>nested <b>tags</b><p>unclosed</div> tail"),
            (-2, "chain &amp;lt;b&amp;gt; stays; &amp;amp; once"),
            (-3, '<a title="a>b">attr-gt</a> <P CLASS=x>case</P>'),
            (-4, '<SCRIPT type="t">var s=1;</SCRIPT><STYLE>q{}</STYLE>kept'),
            (-5, "before<!-- multi\nline\ncomment -->after"),
        ],
        "doc_id bigint, html string",
    )
    return (
        d.select("doc_id", html.alias("html"))
        .unionByName(adversarial)
        .select("doc_id", strip_markup(F.col("html")).alias("clean_text"))
    )


# extract_links + url_host replayed pattern-for-pattern (both
# RE2); relative links' empty host nullifies and drops
@query(oracle=r"""
            WITH h AS (
              SELECT doc_id,
                     '<p>Doc</p><a href="https://WWW.Site'
                     || CAST(doc_id % 7 AS VARCHAR) || '.example.com:443/p/'
                     || CAST(doc_id AS VARCHAR)
                     || '">x</a> <a class=l href=''//cdn'
                     || CAST(doc_id % 3 AS VARCHAR)
                     || '.example.net/asset''>y</a> <a href="/rel/'
                     || CAST(doc_id AS VARCHAR)
                     || '">z</a> <a href="https://crawler@WWW.Site'
                     || CAST(doc_id % 7 AS VARCHAR)
                     || '.example.com/u">u</a> <a href=''http://[2001:db8::'
                     || CAST(doc_id % 2 AS VARCHAR)
                     || ']:8080/v''>v</a>' AS t
              FROM documents
            ),
            links AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(t,
                       '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']*)["'']', 1))
                       AS link
              FROM h
            ),
            hosts AS (
              SELECT doc_id,
                     nullif(regexp_replace(regexp_replace(
                       regexp_replace(
                         lower(regexp_extract(trim(link),
                           '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]+)', 1)),
                         '^[^@]*@', ''),
                       '^(\[[^\]]*\]|[^:\[]*)(:[0-9]+)$', '\1'),
                       '^www\.', ''), '') AS host
              FROM links
            )
            SELECT host,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS min_doc
            FROM hosts WHERE host IS NOT NULL
            GROUP BY host
        """)
def q_link_graph(spark, sf_dir):
    """WAT-style link-graph extraction (text.extract_links +
    text.url_host — the link-side complement of strip_markup's WET
    text): every doc is wrapped in crawl HTML carrying an absolute
    https link (mixed-case host, www + default-port noise), a
    single-quoted scheme-relative CDN link, and a relative link; hosts
    aggregate to (n_links, n_docs, min_doc).  The relative link
    resolves to NULL host and drops — intra-site edges are the
    caller's choice.  Extraction and host parsing are one
    RE2-compatible pattern each (engine-replayable), map-only; the
    single shuffle is the host rollup."""
    from gdp_etl_spark.functions.text import extract_links, url_host

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<p>Doc</p><a href="https://WWW.Site'),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit(".example.com:443/p/"),
        F.col("doc_id").cast("string"),
        F.lit('">x</a> <a class=l href=\'//cdn'),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
        F.lit(".example.net/asset'>y</a> <a href=\"/rel/"),
        F.col("doc_id").cast("string"),
        F.lit('">z</a> <a href="https://crawler@WWW.Site'),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit('.example.com/u">u</a> <a href=\'http://[2001:db8::'),
        F.pmod(F.col("doc_id"), F.lit(2)).cast("string"),
        F.lit("]:8080/v'>v</a>"),
    )
    links = d.select(
        "doc_id", F.explode(extract_links(html)).alias("link")
    ).select("doc_id", url_host(F.col("link")).alias("host"))
    return links.filter(F.col("host").isNotNull()).groupBy("host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
    )


#: url_frontier fixture: one row per admission rule.
_FRONTIER_FIX = [
    (3000001, "mailto:someone@example.com"),
    (3000002, "javascript:void(0)"),
    (3000003, "https://ok.example.com/a/b/c/page.html"),
    (3000004, "https://trap.example.com/a/b/a/b/a/b/"),
    (3000005, "https://deep.example.com/1/2/3/4/5/6/7/8/9/x"),
    (3000006, "https://bin.example.com/download/build.zip"),
    (3000007, "https://long.example.com/?q=" + "x" * 2100),
    (3000008, "https:///no-host-here"),
    (3000009, None),
    (3000010, "HTTP://UPPER.example.com/Mixed/Case.HTML"),
    # per-segment boundary (r13 semantics fix): two DISTINCT doubled
    # segments — max single-segment count 2 <= cap 2, ADMITTED (the
    # old duplicate-mass rule wrongly rejected it)
    (3000011, "https://ok2.example.com/x/a/b/a/b"),
]


def _url_frontier_sql():
    from gdp_etl_spark.functions.text import FRONTIER_BLOCKED_EXT

    vals = ",\n              ".join(
        f"({i}, {_sql_str(t)})" for i, t in _FRONTIER_FIX
    )
    exts = ", ".join(f"'{e}'" for e in FRONTIER_BLOCKED_EXT)
    return f"""
            WITH fix(doc_id, url) AS (VALUES
              {vals}),
            u AS (
              SELECT doc_id,
                     'https://site' || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com/docs/p'
                       || CAST(doc_id AS VARCHAR)
                       || (['.html', '.pdf', '', '.jpg'])
                          [CAST(doc_id % 4 AS INT) + 1] AS url
              FROM documents
              UNION ALL SELECT doc_id, url FROM fix),
            p AS (
              SELECT doc_id,
                     trim(coalesce(url, '')) AS uu
              FROM u),
            f AS (
              SELECT doc_id, uu,
                     lower(regexp_extract(uu,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     lower(regexp_extract(uu,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
                     regexp_extract(uu,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                       AS path
              FROM p),
            g AS (
              SELECT doc_id, uu, scheme, host, path,
                     list_filter(string_split(path, '/'),
                                 s -> s <> '') AS segs,
                     lower(regexp_extract(path,
                       '\\.([A-Za-z0-9]{{1,5}})$', 1)) AS ext
              FROM f),
            h AS (
              SELECT doc_id, host, ext,
                     CAST(len(segs) AS INT) AS depth,
                     scheme IN ('http', 'https') AS scheme_ok,
                     length(uu) <= 2048 AS len_ok,
                     len(segs) <= 8 AS depth_ok,
                     coalesce(list_max(list_transform(
                       list_distinct(segs),
                       d -> len(list_filter(segs, s -> s = d))))
                       <= 2, true) AS trap_ok,
                     NOT (ext IN ({exts})) AS ext_ok
              FROM g)
            SELECT doc_id,
                   CASE WHEN host = '' THEN NULL ELSE host END AS host,
                   ext, depth, scheme_ok, trap_ok, ext_ok,
                   (scheme_ok AND len_ok AND depth_ok AND trap_ok
                    AND ext_ok AND host <> '') AS admit
            FROM h
        """


@query(oracle=_url_frontier_sql())
def q_url_frontier(spark, sf_dir):
    """Crawl-frontier admission (text.url_frontier_flags — the
    Heritrix/Nutch scope-filter class): scheme allowlist, URL-length
    cap, path-depth cap, repeated-segment trap rule, binary/media
    extension blocklist — one per-row struct expression, zero shuffle
    at link-stream scale.  Runs over URLs synthesized from documents
    (varying extension/depth by doc_id — the pii_redact augmentation
    rule) UNIONed with a fixture exercising every rule, incl. the
    /a/b/a/b trap and a 2100-char URL.  Completes the crawl front
    door: read_warc → extract_links → canonical_url → THIS →
    per-host politeness."""
    from gdp_etl_spark.functions.text import url_frontier_flags
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/docs/p"), F.col("doc_id").cast("string"),
            F.element_at(
                F.array(F.lit(".html"), F.lit(".pdf"), F.lit(""),
                        F.lit(".jpg")),
                (F.col("doc_id") % 4).cast("int") + 1,
            ),
        ).alias("url"),
    )
    fix = local_df(spark, _FRONTIER_FIX, "doc_id bigint, url string")
    u = d.unionByName(fix).withColumn(
        "__f", url_frontier_flags(F.col("url"))
    )
    return u.select(
        "doc_id",
        F.col("__f.host").alias("host"),
        F.col("__f.ext").alias("ext"),
        F.col("__f.depth").alias("depth"),
        F.col("__f.scheme_ok").alias("scheme_ok"),
        F.col("__f.trap_ok").alias("trap_ok"),
        F.col("__f.ext_ok").alias("ext_ok"),
        F.col("__f.admit").alias("admit"),
    )


def _crawl_schedule_sql():
    return f"""
            WITH a AS (
              SELECT doc_id, host, depth
              FROM ({_url_frontier_sql()})
              WHERE admit
            ), r AS (
              SELECT doc_id, host, depth,
                     row_number() OVER (PARTITION BY host
                       ORDER BY depth, doc_id) - 1 AS rn
              FROM a
            )
            SELECT doc_id, host, depth,
                   CAST(rn AS INT) AS host_rank,
                   CAST(rn // 4 AS BIGINT) AS fetch_cycle,
                   CAST(rn % 4 AS INT) AS slot
            FROM r
        """


# admission chain composed with per-host politeness scheduling
@query(oracle=_crawl_schedule_sql())
def q_crawl_schedule(spark, sf_dir):
    """Politeness scheduling of the admitted frontier
    (operators/crawl.schedule_frontier — the Heritrix per-host fetch
    cap): the url_frontier admission chain runs first (same synthetic
    URL set + fixture), admitted links rank within their host by
    (depth, doc_id) and split into fetch cycles of at most 4 links
    per host per wave.  ONE window shuffle keyed on the host; all
    integer arithmetic, so the oracle replays admission → ranking →
    cycle layout exactly.  Completes the crawl chain: read_warc →
    extract_links → canonical_url → url_frontier_flags → THIS."""
    from gdp_etl_spark.functions.text import url_frontier_flags
    from gdp_etl_spark.operators.crawl import schedule_frontier
    from gdp_etl_spark.session import local_df

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/docs/p"), F.col("doc_id").cast("string"),
            F.element_at(
                F.array(F.lit(".html"), F.lit(".pdf"), F.lit(""),
                        F.lit(".jpg")),
                (F.col("doc_id") % 4).cast("int") + 1,
            ),
        ).alias("url"),
    )
    fix = local_df(spark, _FRONTIER_FIX, "doc_id bigint, url string")
    u = d.unionByName(fix).withColumn(
        "__f", url_frontier_flags(F.col("url"))
    )
    admitted = u.filter(F.col("__f.admit")).select(
        "doc_id",
        F.col("__f.host").alias("host"),
        F.col("__f.depth").alias("depth"),
    )
    return schedule_frontier(
        admitted, "host", "doc_id", priority_cols=["depth"],
        per_host_budget=4,
    )
