"""Formats and sources: CSV/JSONL/ORC/fixed-width round trips, schema
evolution, Python data sources and multimodal binary columns."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdp_etl_spark.functions.expressions import dsum, pad_code
from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.operators.multimodal import (
    attach_payload, binary_meta, decode_features, frame_sample,
)
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import _dsum_sql
from gdp_etl_spark.session import local_df


@query(oracle="""
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INT) AS payload_len,
                   lower(substr(hex(encode(text)), 1, 8)) AS magic
            FROM documents
        """)
def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload column → Arrow-batched
    metadata extraction via mapInPandas (length + magic bytes)."""
    d = attach_payload(_t(spark, sf_dir, "documents"), "text", "payload")
    return binary_meta(d, "payload", "doc_id")


@query(oracle="""
            SELECT lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS code,
                   n_name, CAST(n_regionkey AS VARCHAR) AS region_code
            FROM nation
        """)
def q_csv_roundtrip(spark, sf_dir):
    """S1 + S6: single-file CSV sink → explicit-schema CSV scan.  The
    round-trip is the reference's deliverable contract AND the
    zero-padded-code preservation test: "004" must come back a string,
    which only an explicit schema guarantees (inferSchema is banned)."""
    import tempfile

    from gdp_etl_spark.io import write_single_csv
    from gdp_etl_spark.sources import read_csv

    out = _t(spark, sf_dir, "nation").select(
        pad_code("n_nationkey", 3).alias("code"),
        "n_name",
        F.col("n_regionkey").cast("string").alias("region_code"),
    )
    path = tempfile.mkdtemp(prefix="csv_rt_") + "/nation_csv"
    write_single_csv(out, path)
    return read_csv(
        spark, path, "code string, n_name string, region_code string"
    )


@query(oracle="""
            SELECT CAST(period AS INT) AS period,
                   CAST(gdp AS DOUBLE) AS gdp,
                   CAST(deflator AS DOUBLE) AS deflator
            FROM (VALUES (2020, 100.5, NULL),
                         (2021, 110.25, 1.02),
                         (2022, NULL, 1.05)) t(period, gdp, deflator)
        """)
def q_csv_trimmed(spark, sf_dir):
    """S3 + S5: CSV scan with a 2-line preamble skipped, a 3-line footer
    trimmed, custom NA markers ("--") mapped to NULL, and an explicit
    schema — the reference's Taiwan-feed ingestion contract
    (``gpd_etl_pipeline.R:100-122``: skip=2, footer rows dropped, "--"
    as NA).  The sandbox has no network, so the fixture is written to a
    tmp file inside the query; the oracle is the inline expected rows."""
    import os
    import tempfile

    from gdp_etl_spark.sources import read_csv_trimmed

    content = (
        "Quarterly GDP feed (preamble line 1)\n"
        "source: statistics office (preamble line 2)\n"
        "period,gdp,deflator\n"
        "2020,100.5,--\n"
        "2021,110.25,1.02\n"
        "2022,--,1.05\n"
        "footnote: figures are provisional\n"
        "contact: stats@example.org\n"
        "generated by feed exporter\n"
    )
    # mkdtemp per invocation — same concurrent-reader race guard as
    # q_fixed_width / q_schema_evolution
    path = os.path.join(
        tempfile.mkdtemp(prefix="trim_fixture_"), "gdp_etl_spark_trim_fixture.csv"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(content)
    return read_csv_trimmed(
        spark, path, "period int, gdp double, deflator double",
        skip_rows=2, skip_footer=3, na_values=("--",),
    )


@query(oracle="""
            SELECT CAST(code AS VARCHAR) AS code,
                   CAST(year AS INT) AS year,
                   CAST(gdp AS DOUBLE) AS gdp,
                   CAST(flag AS VARCHAR) AS flag
            FROM (VALUES ('ALB', 2020, 100.5, 'A'),
                         ('AND', 2021, NULL, 'B'),
                         ('AUT', 2022, 2000.25, NULL),
                         ('BEL', 2020, 33.1, 'A')) t(code, year, gdp, flag)
        """)
def q_fixed_width(spark, sf_dir):
    """Fixed-width feed ingestion (sources.read_fixed_width): a
    mainframe-style columnar layout with a 1-line banner, blank-padded
    slices, and '--' NA markers — parsed entirely by JVM substring/trim
    expressions in one text scan.  Fixture written to tmp inside the
    query (same pattern as csv_trimmed); oracle is inline VALUES."""
    import os
    import tempfile

    from gdp_etl_spark.sources import read_fixed_width

    content = (
        "NATIONAL ACCOUNTS ANNUAL EXPORT\n"
        "ALB 2020    100.50 A\n"
        "AND 2021      --   B\n"
        "AUT 2022   2000.25   \n"
        "BEL 2020     33.10 A\n"
    )
    # fresh dir per invocation: a fixed shared path + truncating open()
    # lets a concurrent bench/pytest read a half-written file (the race
    # q_schema_evolution's mkdtemp already guards against)
    path = os.path.join(
        tempfile.mkdtemp(prefix="fw_fixture_"), "gdp_etl_spark_fw_fixture.dat"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(content)
    return read_fixed_width(
        spark,
        path,
        [
            ("code", 1, 4, "string"),
            ("year", 5, 4, "int"),
            ("gdp", 9, 10, "double"),
            ("flag", 19, 2, "string"),
        ],
        na_values=("--",),
        skip_rows=1,
    )


# fake decoder mirror: md5 digest repeated 4x -> 16 LE uint32 ->
# /2^32 in float64 (exact).  Corpus is ASCII so md5(text) ==
# md5(utf8 payload); frombuffer is little-endian (x86).
@query(oracle="""
            WITH d AS (SELECT doc_id, md5(text) AS hx FROM documents)
            SELECT doc_id, CAST(pos AS INT) AS pos,
                   CAST(CAST(concat('0x',
                       substring(hx, 2*((4*(pos%4)+3)%16)+1, 2),
                       substring(hx, 2*((4*(pos%4)+2)%16)+1, 2),
                       substring(hx, 2*((4*(pos%4)+1)%16)+1, 2),
                       substring(hx, 2*((4*(pos%4)+0)%16)+1, 2))
                     AS BIGINT) AS DOUBLE) / 4294967296.0 AS feature
            FROM d, unnest(range(0, 16)) t(pos)
        """)
def q_multimodal_features(spark, sf_dir):
    """Multimodal decode plumbing: payload → fixed-dim feature vector
    via Arrow-batched mapInPandas.  The registered output explodes the
    vector to (doc_id, pos, feature) scalar rows, and because the fake
    decoder is md5-derived uint32/2^32 in float64 (exact), the DuckDB
    oracle rebuilds every feature from ``md5(text)`` hex pairs —
    full hash equality.  Real codecs plug in via ``decoder="pillow"``
    (optional dep, unit-tested)."""
    d = attach_payload(_t(spark, sf_dir, "documents"), "text", "payload")
    return decode_features(d, "payload", "doc_id", dim=16).select(
        "doc_id", F.posexplode("features").alias("pos", "feature")
    )


# fake frame chunker mirror: payload = utf8(text); frames are
# 16-byte slices at every 4th index over max(len/16, 1) chunks,
# replayed as 32-hex-char slices
@query(oracle="""
            WITH d AS (
              SELECT doc_id, lower(hex(encode(text))) AS hx,
                     greatest(octet_length(encode(text)) // 16, 1) AS nf
              FROM documents)
            SELECT doc_id, CAST(fi AS INT) AS frame_idx,
                   substring(hx, CAST(fi AS INT) * 32 + 1, 32) AS frame_hex
            FROM d, unnest(range(0, nf, 4)) t(fi)
        """)
def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling fan-out: one payload row → N typed frame rows
    (every 4th fake 16-byte frame).  Registered output hex-encodes the
    frame bytes so the driver canonicalizer can hash rows, and the
    oracle replays the chunking as hex-string slices — full equality
    check on the 1→N fan-out, indices and bytes."""
    d = attach_payload(_t(spark, sf_dir, "documents"), "text", "payload")
    return frame_sample(d, "payload", "doc_id", every_n=4).select(
        "doc_id", "frame_idx", F.lower(F.hex("frame")).alias("frame_hex")
    )


@query(oracle="SELECT doc_id, lang, text FROM documents")
def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL sink → explicit-schema PERMISSIVE scan (the training-data
    interchange format): clean rows round-trip exactly, corrupt lines
    would quarantine into _corrupt_record instead of failing the job."""
    import tempfile

    from gdp_etl_spark.sources import read_jsonl

    out = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    path = tempfile.mkdtemp(prefix="jsonl_rt_") + "/docs_jsonl"
    out.coalesce(1).write.mode("overwrite").json(path)
    back = read_jsonl(spark, path, "doc_id bigint, lang string, text string")
    return back.filter(F.col("_corrupt_record").isNull()).select(
        "doc_id", "lang", "text"
    )


# the ORC write/read is Spark-side plumbing; the oracle checks
# the data contract (same rows as filtering the source table)
@query(oracle="""
            SELECT c_nationkey, COUNT(*) AS n_cust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                     AS total_bal
            FROM customer WHERE c_mktsegment = 'BUILDING'
            GROUP BY c_nationkey
        """)
def q_orc_roundtrip(spark, sf_dir):
    """Second columnar format end-to-end: customers written as
    hive-partitioned ORC (partitioned by market segment), read back
    with a segment filter — the scan must prune to ONE partition
    directory (plan-tested) — then aggregated per nation.  Shows the
    engine's source/sink surface is format-agnostic: parquet, CSV,
    JSONL and ORC share the same declarative scan path, so pushdown,
    pruning and codegen all apply unchanged."""
    import tempfile

    path = tempfile.mkdtemp(prefix="orc_rt_") + "/cust_orc"
    c = _t(spark, sf_dir, "customer")
    (
        c.select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite")
        .partitionBy("c_mktsegment")
        .orc(path)
    )
    back = spark.read.orc(path).filter(F.col("c_mktsegment") == "BUILDING")
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"), dsum("c_acctbal", "total_bal")
    )


# drifted-schema merge: NULL tag for pre-drift rows
@query(oracle="""
            SELECT CAST(id AS BIGINT) AS id, CAST(v AS DOUBLE) AS v,
                   CAST(tag AS VARCHAR) AS tag
            FROM (VALUES (1, 10.0, NULL), (2, 20.0, NULL),
                         (3, 30.0, 'x'), (4, 40.0, 'y')) t(id, v, tag)
        """)
def q_schema_evolution(spark, sf_dir):
    """Schema-evolution read: two parquet batches written with DRIFTED
    schemas (batch 2 adds a column) land in one directory;
    ``mergeSchema`` reconciles them into a single frame with NULLs for
    the pre-drift rows — the ingestion posture for any long-lived feed
    (a fixed schema read would silently drop the new column; schema
    inference would cost an extra full pass at scale).  Fixture
    written to tmp inside the query; oracle is inline VALUES."""
    import os
    import shutil
    import tempfile

    # fresh dir per invocation: a fixed shared path would race a
    # concurrent bench/pytest process between its rmtree and the lazy
    # read's file listing
    base = tempfile.mkdtemp(prefix="gdp_etl_spark_evo_")
    shutil.rmtree(base, ignore_errors=True)
    local_df(
        spark,
        [(1, 10.0), (2, 20.0)], "id long, v double"
    ).coalesce(1).write.parquet(os.path.join(base, "b=1"))
    local_df(
        spark,
        [(3, 30.0, "x"), (4, 40.0, "y")], "id long, v double, tag string"
    ).coalesce(1).write.parquet(os.path.join(base, "b=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "*")
    )
    return merged.select("id", "v", "tag").orderBy("id")


# the tick feed regenerated row-for-row from generate_series
@query(oracle=f"""
            WITH feed AS (
              SELECT i AS tick_id,
                     'SYM' || CAST(i % 23 AS VARCHAR) AS symbol,
                     CAST((i * 2654435761) % 100000 AS DOUBLE) / 100.0
                       AS price,
                     CASE WHEN (i * 40503) % 7 < 4 THEN 'B' ELSE 'S' END
                       AS side
              FROM (SELECT unnest(generate_series(0, 9999)) AS i)
            )
            SELECT symbol, COUNT(*) AS n_ticks,
                   {_dsum_sql('price')} AS price_sum,
                   CAST(SUM(CASE WHEN side = 'B' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_buys
            FROM feed GROUP BY symbol
        """)
def q_python_datasource(spark, sf_dir):
    """Custom Python DataSource (sources_pyds.TickFeedDataSource, the
    Spark 4 ``pyspark.sql.datasource`` API): a partition-parallel
    synthetic tick feed read through the planner like any file source
    (8 declared splits, executor-side iterators), aggregated per
    symbol.  The feed is a pure function of the row index, so the
    oracle regenerates every row from ``generate_series`` — end-to-end
    value equality, not a smoke check."""
    from gdp_etl_spark.sources_pyds import TickFeedDataSource

    spark.dataSource.register(TickFeedDataSource)
    df = (
        spark.read.format("tick_feed")
        .option("rows", 10000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        dsum("price", "price_sum"),
        F.sum(F.when(F.col("side") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_buys"),
    )


@query(oracle="""
            WITH toks AS (
              SELECT doc_id,
                     CAST(len(string_split_regex(trim(text), '\\s+'))
                          AS BIGINT) AS n_tok,
                     text
              FROM documents),
            hx AS (
              SELECT doc_id,
                     concat(
                       '52494646',
                       -- u32-LE of n_tok: pad big-endian hex, reverse pairs
                       substring(lpad(lower(hex(n_tok)), 8, '0'), 7, 2),
                       substring(lpad(lower(hex(n_tok)), 8, '0'), 5, 2),
                       substring(lpad(lower(hex(n_tok)), 8, '0'), 3, 2),
                       substring(lpad(lower(hex(n_tok)), 8, '0'), 1, 2),
                       '0200',                     -- u16-LE channels=2
                       '3e00',                     -- u16-LE rate/256=62
                       lower(hex(encode(text)))
                     ) AS h
              FROM toks)
            SELECT doc_id,
                   substring(h, 1, 8) = '52494646' AS is_riff,
                   CAST(concat('0x', substring(h, 15, 2), substring(h, 13, 2),
                               substring(h, 11, 2), substring(h, 9, 2))
                        AS BIGINT) AS declared_size,
                   CAST(concat('0x', substring(h, 19, 2), substring(h, 17, 2))
                        AS BIGINT) AS channels,
                   CAST(concat('0x', substring(h, 23, 2), substring(h, 21, 2))
                        AS BIGINT) AS rate_div256,
                   CAST(len(h) / 2 AS BIGINT) AS total_bytes
            FROM hx
        """)
def q_binary_header(spark, sf_dir):
    """Binary-column metadata extraction with ZERO Python: synthesize a
    RIFF-style 12-byte header + text payload per document, then parse
    magic / LE-u32 size / LE-u16 fields back out via hex slicing inside
    whole-stage codegen (multimodal.parse_fixed_header)."""
    from gdp_etl_spark.functions.text import token_count_ws
    from gdp_etl_spark.operators.multimodal import le_hex, parse_fixed_header

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_tok"),
        F.col("text"),
    )
    payload = F.unhex(
        F.concat(
            F.lit("52494646"),                       # 'RIFF'
            le_hex(F.col("n_tok"), 4),               # u32-LE size
            le_hex(F.lit(2), 2),                     # u16-LE channels
            le_hex(F.lit(62), 2),                    # u16-LE rate/256
            F.lower(F.hex(F.encode(F.col("text"), "UTF-8"))),
        )
    )
    return parse_fixed_header(
        d.select("doc_id", payload.alias("payload")), "payload", "doc_id"
    )


# the fake decoder's md5-pixel recipe + integer aHash bits +
# all-pairs hamming (bounded corpus; Spark stays pigeonholed)
@query(oracle="""
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            ),
            pix AS (
              SELECT doc_id, g.g * 4 + j.j AS i,
                     CAST(concat('0x',
                       substring(md5(text || ':' || CAST(g.g AS VARCHAR)),
                                 2*(4*j.j+3)+1, 2),
                       substring(md5(text || ':' || CAST(g.g AS VARCHAR)),
                                 2*(4*j.j+2)+1, 2),
                       substring(md5(text || ':' || CAST(g.g AS VARCHAR)),
                                 2*(4*j.j+1)+1, 2),
                       substring(md5(text || ':' || CAST(g.g AS VARCHAR)),
                                 2*(4*j.j+0)+1, 2)) AS BIGINT) AS p
              FROM base, range(0, 16) g(g), range(0, 4) j(j)
            ),
            tot AS (
              SELECT doc_id, CAST(SUM(p) AS BIGINT) AS s FROM pix
              GROUP BY doc_id
            ),
            sig AS (
              SELECT pix.doc_id,
                     CAST(SUM(CASE WHEN pix.p * 64 > t.s THEN
                       CASE WHEN pix.i = 63
                            THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE CAST(1 AS BIGINT) << CAST(pix.i AS INT)
                       END ELSE 0 END) AS BIGINT) AS h
              FROM pix JOIN tot t USING (doc_id) GROUP BY pix.doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.h, b.h)) <= 3
        """)
def q_phash_dedup(spark, sf_dir):
    """Image near-duplicate detection (multimodal.perceptual_hash +
    dedup.hamming_pairs): 64-bit block-mean perceptual hashes (aHash —
    bit i set iff pixel i·64 > Σpixels, pure integer, no float
    boundary) over binary payloads, paired by the same 4×16-bit
    pigeonhole used for SimHash.  The batch re-ingests a copy of every
    %10 payload (the re-uploaded-image shape): copies surface at
    hamming 0, unrelated payloads never pair (random 64-bit signatures
    sit at hamming ≈ 32).  The fake decoder's md5-pixel recipe replays
    bit-for-bit in the oracle; the real Pillow path shares every stage
    after the decode."""
    from gdp_etl_spark.operators.multimodal import (
        attach_payload,
        image_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.unionByName(
        docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
            (F.col("doc_id") + F.lit(10000)).cast("long").alias("doc_id"),
            "text",
        )
    )
    p = attach_payload(batch, "text")
    return image_near_dup_pairs(p, "payload", "doc_id", max_hamming=3)
