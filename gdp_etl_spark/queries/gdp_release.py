"""The reference's release dataflow: extraction, USIS export, the QA report
suite over a release diff, and the golden replays of its published outputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdp_etl_spark.functions.expressions import dsum, pad_code
from gdp_etl_spark.io import load_table as _t
from gdp_etl_spark.operators.diff import full_outer_diff
from gdp_etl_spark.plans.golden import REFERENCE_DIR as _GOLDEN_DIR
from gdp_etl_spark.plans.qa import (
    added_values, discrepancies_before_last_year, missing_values,
    top_discrepancies_last_year,
)
from gdp_etl_spark.queries import query
from gdp_etl_spark.queries._sql import _dsum_sql
from gdp_etl_spark.session import local_df


def _orders_release_diff(spark, sf_dir, old_predicate=None, new_predicate=None):
    """A release-diff-shaped frame from the driver tables: per
    (nation, year) revenue, "new" = all orders (or a ``new_predicate``
    subset, to synthesize values MISSING from the new release) vs
    "old" = a filtered subset (default: F-status orders), mapped onto
    the QA contract (code/label/year/variable)."""
    if old_predicate is None:
        old_predicate = F.col("o_orderstatus") == "F"
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )

    def spend(df):
        return (
            df.groupBy(
                pad_code("n_nationkey", 3).alias("Economy_Code"),
                F.col("n_name").alias("Economy_Label"),
                F.year("o_orderdate").alias("Year"),
            )
            .agg(dsum("o_totalprice", "Value"))
            .withColumn("Variable", F.lit("revenue"))
        )

    new = spend(joined if new_predicate is None else joined.filter(new_predicate))
    old = spend(joined.filter(old_predicate))
    diff = full_outer_diff(
        new.select("Economy_Code", "Year", "Variable", "Value"),
        old.select("Economy_Code", "Year", "Variable", "Value"),
        ["Economy_Code", "Year", "Variable"],
        "Value",
    )
    labels = new.select("Economy_Code", "Economy_Label").distinct()
    return diff.join(F.broadcast(labels), "Economy_Code", "left")


def _qa_diff_sql(old_pred: str, new_pred: str = "TRUE") -> str:
    return f"""
            WITH j AS (
              SELECT lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS Economy_Code,
                     n_name AS Economy_Label,
                     CAST(year(o_orderdate) AS INT) AS Year,
                     o_totalprice, o_orderstatus
              FROM orders JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey),
            new AS (SELECT Economy_Code, Economy_Label, Year,
                           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                             AS Value
                    FROM j WHERE {new_pred} GROUP BY 1, 2, 3),
            old AS (SELECT Economy_Code, Year,
                           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                             AS Value
                    FROM j WHERE {old_pred} GROUP BY 1, 2),
            diff AS (
              SELECT COALESCE(new.Economy_Code, old.Economy_Code) AS Economy_Code,
                     COALESCE(new.Year, old.Year) AS Year,
                     new.Value AS Value_new, old.Value AS Value_old
              FROM new FULL OUTER JOIN old
                ON new.Economy_Code = old.Economy_Code AND new.Year = old.Year),
            labeled AS (
              SELECT d.*, l.Economy_Label
              FROM diff d LEFT JOIN (SELECT DISTINCT Economy_Code, Economy_Label
                                     FROM new) l USING (Economy_Code))
"""


_QA_DIFF_SQL = _qa_diff_sql("o_orderstatus = 'F'")
_QA_DIFF_BIG_SQL = _qa_diff_sql("o_totalprice > 480000")
_QA_DIFF_MISS_SQL = _qa_diff_sql("TRUE", "Year <= 1996")


@query(oracle=_QA_DIFF_SQL + """
            , bad AS (
              SELECT * FROM labeled
              WHERE Year <> 2001 AND abs(Value_new - Value_old) > 100000.0),
            lab AS (SELECT Economy_Code, 'revenue' AS Variable,
                           min(Economy_Label) AS Economy_Label
                    FROM bad GROUP BY 1),
            isl AS (SELECT Economy_Code, Year,
                      Year - CAST(row_number() OVER (PARTITION BY Economy_Code
                                  ORDER BY Year) AS INT) AS island
                    FROM (SELECT DISTINCT Economy_Code, Year FROM bad)),
            runs AS (SELECT Economy_Code, island, min(Year) AS lo, max(Year) AS hi
                     FROM isl GROUP BY 1, 2),
            yrs AS (SELECT Economy_Code,
                      string_agg(CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
                                 ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR)
                                 END, ', ' ORDER BY lo) AS Years
                    FROM runs GROUP BY 1)
            SELECT lab.Economy_Code, lab.Variable, lab.Economy_Label, yrs.Years
            FROM lab JOIN yrs USING (Economy_Code)
        """)
def q_qa_discrepancies(spark, sf_dir):
    """QA 1 (``04:94-106``): tolerance-filtered discrepancies compressed
    to per-economy year ranges."""
    diff = _orders_release_diff(spark, sf_dir)
    out = discrepancies_before_last_year(diff, last_year=2001, tol=100000.0)
    return out.select("Economy_Code", "Variable", "Economy_Label", "Years")


@query(oracle=_QA_DIFF_SQL + """
            SELECT Economy_Code, Economy_Label, Value_new, Value_old
            FROM labeled WHERE Year = 2001
            ORDER BY abs(ln(Value_new / Value_old)) DESC, Economy_Code
            LIMIT 10
        """)
def q_qa_top_log_ratio(spark, sf_dir):
    """QA 2 (``05:10-28``): top-k discrepancies by |log(new/old)| in the
    last year."""
    diff = _orders_release_diff(spark, sf_dir)
    out = top_discrepancies_last_year(diff, last_year=2001, k=10)
    return out.select("Economy_Code", "Economy_Label", "Value_new", "Value_old")


@query(oracle=_QA_DIFF_MISS_SQL + """
            , msng AS (
              SELECT * FROM labeled
              WHERE Value_new IS NULL AND Value_old IS NOT NULL),
            lab AS (SELECT Economy_Code, 'revenue' AS Variable,
                           min(Economy_Label) AS Economy_Label
                    FROM msng GROUP BY 1),
            isl AS (SELECT Economy_Code, Year,
                      Year - CAST(row_number() OVER (PARTITION BY Economy_Code
                                  ORDER BY Year) AS INT) AS island
                    FROM (SELECT DISTINCT Economy_Code, Year FROM msng)),
            runs AS (SELECT Economy_Code, island, min(Year) AS lo, max(Year) AS hi
                     FROM isl GROUP BY 1, 2),
            yrs AS (SELECT Economy_Code,
                      string_agg(CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
                                 ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR)
                                 END, ', ' ORDER BY lo) AS Years
                    FROM runs GROUP BY 1)
            SELECT lab.Economy_Code, lab.Variable, lab.Economy_Label, yrs.Years
            FROM lab JOIN yrs USING (Economy_Code)
        """)
def q_qa_missing_years(spark, sf_dir):
    """QA 3 (``06:5-16``): values present in the old release but absent
    from the new, as compressed year ranges — the new side is truncated
    at 1996 so later years go missing."""
    diff = _orders_release_diff(
        spark, sf_dir,
        old_predicate=F.lit(True),
        new_predicate=F.year("o_orderdate") <= 1996,
    )
    return missing_values(diff).select(
        "Economy_Code", "Variable", "Economy_Label", "Years"
    )


@query(oracle="""
            WITH j AS (
              SELECT lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS Economy_Code,
                     n_name AS Economy_Label,
                     CAST(year(o_orderdate) AS INT) AS Year,
                     l_extendedprice AS ep, l_discount AS disc, l_quantity AS q
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                   JOIN customer ON o_custkey = c_custkey
                   JOIN nation ON c_nationkey = n_nationkey),
            agg AS (
              SELECT Economy_Code, Economy_Label, Year,
                     CAST(SUM(CAST(ep AS DECIMAL(28,6))) AS DOUBLE) AS cur,
                     CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) AS dq,
                     CAST(SUM(CAST(ep * (1.0 - disc) AS DECIMAL(28,6))) AS DOUBLE)
                       AS dep
              FROM j GROUP BY 1, 2, 3),
            imp AS (
              SELECT Economy_Code, Economy_Label, Year,
                     CASE WHEN Year = 1998 THEN NULL
                          ELSE 100.0 * cur / (dq * 100.0) END AS Deflator_implied,
                     dep / dq AS Deflator_USD
              FROM agg),
            bad AS (
              SELECT *, Deflator_implied - Deflator_USD AS Diff FROM imp
              WHERE abs(Deflator_implied - Deflator_USD) > 1.0)
            SELECT Economy_Code, Economy_Label, Year,
                   Deflator_implied, Deflator_USD, Diff
            FROM bad
            QUALIFY abs(Diff) = max(abs(Diff)) OVER (PARTITION BY Economy_Label)
        """)
def q_qa_deflator_check(spark, sf_dir):
    """QA 5 (``08:10-93``): metamorphic deflator cross-check — the
    deflator implied by the fact's own current/constant series
    (pivot + 100·cur/con, estimation year NA-ed) against an
    independently derived series (discounted unit price), keeping each
    economy's largest |discrepancy| (W3)."""
    from gdp_etl_spark.plans.qa import deflator_check

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            pad_code("n_nationkey", 3).alias("Economy_Code"),
            F.col("n_name").alias("Economy_Label"),
            F.year("o_orderdate").alias("Year"),
            F.col("l_extendedprice").alias("ep"),
            F.col("l_discount").alias("disc"),
            F.col("l_quantity").alias("q"),
        )
    )
    agg = j.groupBy("Economy_Code", "Economy_Label", "Year").agg(
        dsum("ep", "cur"),
        dsum("q", "dq"),
        dsum(F.col("ep") * (F.lit(1.0) - F.col("disc")), "dep"),
    )
    fact = (
        agg.select(
            "Economy_Code", "Economy_Label", "Year",
            F.col("cur").alias("Value"),
            F.lit("GDP_at_current_prices").alias("Variable"),
        )
        .unionByName(
            agg.select(
                "Economy_Code", "Economy_Label", "Year",
                (F.col("dq") * F.lit(100.0)).alias("Value"),
                F.lit("GDP_at_constant_prices_2015").alias("Variable"),
            )
        )
    )
    independent = agg.select(
        "Economy_Code", "Year",
        (F.col("dep") / F.col("dq")).alias("Deflator_USD"),
    )
    return deflator_check(fact, independent, last_year=1998, tol=1.0)


@query(oracle=_QA_DIFF_BIG_SQL + """
            , addv AS (
              SELECT * FROM labeled
              WHERE Value_new IS NOT NULL AND Value_old IS NULL),
            lab AS (SELECT Economy_Code, 'revenue' AS Variable,
                           min(Economy_Label) AS Economy_Label
                    FROM addv GROUP BY 1),
            isl AS (SELECT Economy_Code, Year,
                      Year - CAST(row_number() OVER (PARTITION BY Economy_Code
                                  ORDER BY Year) AS INT) AS island
                    FROM (SELECT DISTINCT Economy_Code, Year FROM addv)),
            runs AS (SELECT Economy_Code, island, min(Year) AS lo, max(Year) AS hi
                     FROM isl GROUP BY 1, 2),
            yrs AS (SELECT Economy_Code,
                      string_agg(CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
                                 ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR)
                                 END, ', ' ORDER BY lo) AS Years
                    FROM runs GROUP BY 1)
            SELECT lab.Economy_Code, lab.Variable, lab.Economy_Label, yrs.Years
            FROM lab JOIN yrs USING (Economy_Code)
        """)
def q_qa_added_years(spark, sf_dir):
    """QA 4 (``07:5-16``): values present in new but absent from old,
    as compressed year ranges."""
    # "old" side = only big-ticket orders, so some nation-years exist
    # only in the new release (the F-status old side covers everything)
    diff = _orders_release_diff(
        spark, sf_dir, old_predicate=F.col("o_totalprice") > 480000
    )
    return added_values(diff).select(
        "Economy_Code", "Variable", "Economy_Label", "Years"
    )


@query(oracle="""
            WITH cw(cid, country, ind, y2013, y2014, y2015, y2016) AS (
              VALUES (4, 'Afghanistan', 'Gross Domestic Product (GDP)',
                      18.0, 19.5, 20.25, 21.0),
                     (76, 'Brazil', 'Gross Domestic Product (GDP)',
                      2400.0, 2450.0, NULL, 2500.0),
                     (76, 'Brazil', 'Imports of goods and services',
                      1.0, 1.0, 1.0, 1.0),
                     (840, 'USA', 'Gross Domestic Product (GDP)',
                      16000.0, 16500.0, 17000.0, 17500.0)
            ),
            uw(cid, country, ind, y2013, y2014, y2015, y2016) AS (
              VALUES (4, 'Afghanistan', 'Gross Domestic Product (GDP)',
                      20.0, 20.5, 20.25, 22.0),
                     (76, 'Brazil', 'Gross Domestic Product (GDP)',
                      2452.0, 2472.0, 2490.0, NULL),
                     (250, 'France', 'Gross Domestic Product (GDP)',
                      2800.0, 2850.0, 2900.0, 2950.0),
                     (840, 'USA', 'Gross Domestic Product (GDP)',
                      16800.0, 17400.0, 18000.0, 18600.0)
            ),
            -- melt keeps NULL cells (R pivot_longer default); every
            -- value literal casts to DOUBLE (DuckDB parses 18.0 as
            -- DECIMAL otherwise)
            cc AS (
              SELECT cid, y, v FROM (
                SELECT cid, 2013 AS y, CAST(y2013 AS DOUBLE) AS v FROM cw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2014, CAST(y2014 AS DOUBLE) FROM cw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2015, CAST(y2015 AS DOUBLE) FROM cw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2016, CAST(y2016 AS DOUBLE) FROM cw
                 WHERE ind = 'Gross Domestic Product (GDP)')
            ),
            uc AS (
              SELECT cid, y, v FROM (
                SELECT cid, 2013 AS y, CAST(y2013 AS DOUBLE) AS v FROM uw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2014, CAST(y2014 AS DOUBLE) FROM uw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2015, CAST(y2015 AS DOUBLE) FROM uw
                 WHERE ind = 'Gross Domestic Product (GDP)'
                UNION ALL
                SELECT cid, 2016, CAST(y2016 AS DOUBLE) FROM uw
                 WHERE ind = 'Gross Domestic Product (GDP)')
            ),
            j AS (
              SELECT cc.cid, cc.y, cc.v AS vconst, uc.v AS vcurr
              FROM cc JOIN uc ON cc.cid = uc.cid AND cc.y = uc.y
            ),
            unsd AS (
              SELECT lpad(CAST(cid AS VARCHAR), 3, '0') AS Economy_Code,
                     CAST(y AS INT) AS Year,
                     'GDP_at_constant_prices_2015' AS Variable,
                     vconst AS Value
              FROM j
              UNION ALL
              SELECT lpad(CAST(cid AS VARCHAR), 3, '0'),
                     CAST(y AS INT), 'GDP_at_current_prices', vcurr
              FROM j
            ),
            pr(period, ntd, usd) AS (
              VALUES (1979, 35000.0, 1000.0), (1980, 36300.0, 1100.0),
                     (2013, 480000.0, 15000.0), (2014, 495000.0, 16000.0),
                     (2015, 512000.0, 16000.0), (2016, 500000.0, 16129.0)
            ),
            fxr AS (SELECT period,
                           CAST(ntd AS DOUBLE) / CAST(usd AS DOUBLE) AS fx
                    FROM pr),
            pre(period, exp, curr, chained) AS (
              VALUES (1979, '6.GDP', 30000.0, 90000.0),
                     (1980, '6.GDP', 33000.0, 95000.0),
                     (1980, '7. Imports', 1.0, 1.0)
            ),
            post(period, exp, curr, chained) AS (
              VALUES (2013, '8. GDP', 460000.0, 470000.0),
                     (2014, '8. GDP', 475000.0, 480000.0),
                     (2015, '8. GDP', 490000.0, 500000.0),
                     (2016, '8. GDP', 505000.0, NULL),
                     (2015, '7. Imports', 2.0, 2.0)
            ),
            rb AS (SELECT CAST(curr AS DOUBLE) / CAST(chained AS DOUBLE)
                            AS rebase
                   FROM post WHERE period = 2015 AND exp = '8. GDP'),
            bfx AS (SELECT fx AS fx_base FROM fxr WHERE period = 2015),
            nso AS (
              SELECT n.period, CAST(n.chained AS DOUBLE) AS chained,
                     CAST(n.curr AS DOUBLE) AS curr, f.fx
              FROM (SELECT * FROM pre UNION ALL SELECT * FROM post) n
              LEFT JOIN fxr f ON n.period = f.period
              WHERE n.exp IN ('6.GDP', '8. GDP')
            ),
            -- operand order mirrors the Spark plan exactly:
            -- ((chained*1e6)/fx_base)*rebase, (curr*1e6)/fx
            tw0 AS (
              SELECT period,
                     chained * 1e6 / bfx.fx_base * rb.rebase AS c2015,
                     curr * 1e6 / fx AS ccurr
              FROM nso, bfx, rb
            ),
            tw AS (
              SELECT '158' AS Economy_Code, CAST(period AS INT) AS Year,
                     'GDP_at_constant_prices_2015' AS Variable,
                     c2015 AS Value
              FROM tw0
              UNION ALL
              SELECT '158', CAST(period AS INT),
                     'GDP_at_current_prices', ccurr
              FROM tw0
            )
            SELECT * FROM unsd UNION ALL SELECT * FROM tw
        """)
def q_build_fact(spark, sf_dir):
    """§3.1 extraction composition end-to-end (plans.gdp.build_fact =
    get_unsd_gdp_data → get_taiwan_gdp_data, ``gpd_etl_pipeline.R:
    51-147,561-562``): wide UNSD workbooks (indicator filter → melt →
    inner measure join → NA-keeping variable melt → zero-pad) unioned
    with the Taiwan NSO chain (FX from the principal feed, the W2
    2015 rebase factor, A3 base-year-FX constant prices, per-year-FX
    current prices).  Fixtures are inline literals (the sandbox has no
    network/Excel); the oracle replays every stage from the same
    VALUES, so the melt/join/rebase arithmetic is hash-checked."""
    from gdp_etl_spark.plans.gdp import build_fact

    constant_wide = local_df(
        spark,
        [
            (4, "Afghanistan", "Gross Domestic Product (GDP)",
             18.0, 19.5, 20.25, 21.0),
            (76, "Brazil", "Gross Domestic Product (GDP)",
             2400.0, 2450.0, None, 2500.0),
            (76, "Brazil", "Imports of goods and services",
             1.0, 1.0, 1.0, 1.0),
            (840, "USA", "Gross Domestic Product (GDP)",
             16000.0, 16500.0, 17000.0, 17500.0),
        ],
        "CountryID int, Country string, IndicatorName string, "
        "`2013` double, `2014` double, `2015` double, `2016` double",
    )
    current_wide = local_df(
        spark,
        [
            (4, "Afghanistan", "Gross Domestic Product (GDP)",
             20.0, 20.5, 20.25, 22.0),
            (76, "Brazil", "Gross Domestic Product (GDP)",
             2452.0, 2472.0, 2490.0, None),
            (250, "France", "Gross Domestic Product (GDP)",
             2800.0, 2850.0, 2900.0, 2950.0),
            (840, "USA", "Gross Domestic Product (GDP)",
             16800.0, 17400.0, 18000.0, 18600.0),
        ],
        "CountryID int, Country string, IndicatorName string, "
        "`2013` double, `2014` double, `2015` double, `2016` double",
    )
    principal = local_df(
        spark,
        [
            (1979, 35000.0, 1000.0),
            (1980, 36300.0, 1100.0),
            (2013, 480000.0, 15000.0),
            (2014, 495000.0, 16000.0),
            (2015, 512000.0, 16000.0),
            (2016, 500000.0, 16129.0),
        ],
        "Period int, GDP_NTD_Current double, GDP_USD_Current double",
    )
    pre81 = local_df(
        spark,
        [
            (1979, "6.GDP", 30000.0, 90000.0),
            (1980, "6.GDP", 33000.0, 95000.0),
            (1980, "7. Imports", 1.0, 1.0),
        ],
        "Period int, Expenditure string, Current_NTD double, "
        "Chained_NTD double",
    )
    post81 = local_df(
        spark,
        [
            (2013, "8. GDP", 460000.0, 470000.0),
            (2014, "8. GDP", 475000.0, 480000.0),
            (2015, "8. GDP", 490000.0, 500000.0),
            (2016, "8. GDP", 505000.0, None),
            (2015, "7. Imports", 2.0, 2.0),
        ],
        "Period int, Expenditure string, Current_NTD double, "
        "Chained_NTD double",
    )
    return build_fact(constant_wide, current_wide, principal, pre81, post81)


@query(oracle="""
            SELECT Country_Code, CAST(Year AS INT) AS Year,
                   CAST(Value AS DOUBLE) AS Value
            FROM (VALUES ('004', 2015, 80.5),
                         ('004', 2016, NULL),
                         ('076', 2015, 91.25))
                 t(Country_Code, Year, Value)
        """)
def q_http_csv_scan(spark, sf_dir):
    """S2 end-to-end: the reference's HTTP CSV feed path
    (``read_usis``, ``gpd_etl_pipeline.R:41-49``) through the REAL
    default fetcher — a ``file://`` URL exercises the full
    urllib-fetch → temp-file → skip/footer/NA-trimmed CSV scan chain
    with zero injection (the sandbox has no network; file:// is the
    same urlopen code path).  Oracle is the inline expected rows."""
    import os
    import tempfile

    from gdp_etl_spark.sources import read_http_csv

    content = (
        "USIS feed export (banner)\n"
        "Country_Code,Year,Value\n"
        "004,2015,80.5\n"
        "004,2016,--\n"
        "076,2015,91.25\n"
        "rows: 3 (footer)\n"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="usis_http_"), "feed.csv")
    with open(path, "w", encoding="utf-8") as f:
        f.write(content)
    return read_http_csv(
        spark,
        f"file://{path}",
        "Country_Code string, Year int, Value double",
        skip_rows=1,
        skip_footer=1,
        na_values=("--",),
    )


@query(oracle="""
            SELECT CAST(CountryID AS DOUBLE) AS CountryID, Country,
                   CAST(v2015 AS DOUBLE) AS "2015"
            FROM (VALUES (4, 'Afghanistan', 20.25),
                         (76, 'Brazil', 2490.0),
                         (840, 'USA', 18000.0))
                 t(CountryID, Country, v2015)
        """)
def q_excel_scan(spark, sf_dir):
    """S4 end-to-end: UNSD AMA workbook ingestion (``read_excel``,
    ``gpd_etl_pipeline.R:53-63``) — a SpreadsheetML fixture written by
    the stdlib writer, read back through ``read_excel`` (pandas+
    openpyxl when installed, the pure-stdlib ECMA-376 parser
    otherwise), banner row skipped, typed via explicit schema.  Oracle
    is the inline expected rows."""
    import os
    import tempfile

    from gdp_etl_spark.sources import read_excel, write_minimal_xlsx

    path = os.path.join(tempfile.mkdtemp(prefix="unsd_xlsx_"), "ama.xlsx")
    write_minimal_xlsx(
        path,
        [
            ["UNSD AMA export", None, None],            # banner (skipped)
            ["CountryID", "Country", "2015"],           # header
            [4.0, "Afghanistan", 20.25],
            [76.0, "Brazil", 2490.0],
            [840.0, "USA", 18000.0],
        ],
    )
    return read_excel(
        spark, path, skip_rows=1,
        schema="CountryID double, Country string, `2015` double",
    )


@query(oracle=f"""
            WITH rev AS (
              SELECT n_nationkey,
                     CAST(year(o_orderdate) + 26 AS INT) AS yr,
                     {_dsum_sql('o_totalprice')} AS v
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1, 2),
            coded AS (
              SELECT CASE WHEN n_nationkey = 15 THEN '158'
                          ELSE lpad(CAST(n_nationkey AS VARCHAR), 3, '0') END
                       AS economy_code,
                     yr, v
              FROM rev),
            b2 AS (
              SELECT economy_code, yr,
                     'GDP_at_current_prices' AS variable, v FROM coded
              UNION ALL
              SELECT economy_code, yr,
                     'GDP_at_constant_prices_2015', v * 0.9 FROM coded)
            SELECT '5100' AS Series, economy_code AS Country, yr AS Year,
                   'A00' AS Period, '00' AS NAComponent,
                   CASE variable WHEN 'GDP_at_current_prices' THEN '0100'
                                 ELSE '0940' END AS Measure,
                   '0101' AS Source,
                   CASE WHEN yr = 2024 THEN '0001'
                        WHEN economy_code = '158' THEN '3001'
                        ELSE '4809' END AS DataSource,
                   v AS Value, '00' AS DataStatus,
                   '0' AS DataConfidentiality,
                   CAST(NULL AS VARCHAR) AS CommentEN,
                   CAST(NULL AS VARCHAR) AS CommentFR,
                   '0' AS CommentConfidentiality,
                   '29-Aug-25' AS RefDate
            FROM b2 WHERE length(economy_code) < 4
        """)
def q_usis_export(spark, sf_dir):
    """S7: the reference's 15-column USIS upload layout (reference
    ``gpd_etl_pipeline.R:525-558``) over a GDP-shaped fact synthesized
    from driver tables — per-nation-year revenue as Value, both Variable
    recodes, every DataSource branch (2024→0001, economy 158→3001,
    else 4809), the length<4 group filter, and the injectable RefDate."""
    from gdp_etl_spark.plans.gdp import CONSTANT, CURRENT, export_usis_layout

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_nationkey", (F.year("o_orderdate") + F.lit(26)).alias("Year")
        )
        .agg(dsum("o_totalprice", "Value"))
        .select(
            # nation 15 plays economy 158 so the NSO DataSource branch
            # is exercised; a fake 4-char group code must be filtered out
            F.when(F.col("n_nationkey") == 15, F.lit("158"))
            .otherwise(F.lpad(F.col("n_nationkey").cast("string"), 3, "0"))
            .alias("Economy_Code"),
            F.col("Year").cast("int").alias("Year"),
            "Value",
        )
    )
    both = rev.withColumn(
        "Variable", F.explode(F.array(F.lit(CURRENT), F.lit(CONSTANT)))
    ).withColumn(
        "Value",
        F.when(F.col("Variable") == CONSTANT, F.col("Value") * 0.9).otherwise(
            F.col("Value")
        ),
    )
    group_row = rev.limit(1).select(
        F.lit("1000").alias("Economy_Code"),
        F.col("Year"),
        F.col("Value"),
        F.lit(CURRENT).alias("Variable"),
    )
    fact = both.unionByName(group_row).select(
        "Economy_Code",
        "Year",
        "Variable",
        "Value",
        F.lit(None).cast("string").alias("CommentEN"),
        F.lit(None).cast("string").alias("CommentFR"),
    )
    return export_usis_layout(fact, run_date="2025-08-29")


# -- REAL-DATA golden replays: the oracle is the reference's own
# published artifact, read straight off disk — a hash match is
# bit-exact reproduction of the real deliverable ----------------
@query(oracle=f"""
            SELECT Economy_Code, Economy_Label, Year, Variable, Value
            FROM read_csv('{_GOLDEN_DIR}/output/gdp_update.csv',
                          header=true, nullstr='NA',
                          columns={{'Economy_Code':'VARCHAR',
                                    'Economy_Label':'VARCHAR',
                                    'Year':'INTEGER','Variable':'VARCHAR',
                                    'Value':'DOUBLE','CommentEN':'VARCHAR',
                                    'CommentFR':'VARCHAR'}})
            WHERE length(Economy_Code) = 4
        """)
def q_golden_rollup(spark, sf_dir):
    """REAL-DATA golden parity (J7+J8+A1+A2+C1): recompute all 8,052
    published GROUP rows of the reference's ``output/gdp_update.csv``
    from its published INDIVIDUAL rows + the real 2,194-edge
    ``Dim_Countries_Hierarchy_All.csv``, via the reference-exact
    hierarchy expansion (operators.hierarchy, ``gpd_etl_pipeline.R:
    347-413``).  The oracle reads the published group rows straight
    from the golden file — a hash match is bit-exact reproduction of
    the reference's real deliverable (integer-valued doubles ≪ 2^53
    re-sum exactly in any order).  ``sf_dir`` is unused: the input IS
    the reference's own data."""
    from gdp_etl_spark.plans.golden import golden_group_rollup

    return golden_group_rollup(spark)


@query(oracle=f"""
            SELECT Code, Economy_Label, Year, Variable,
                   "Value.old" AS Value_old, "Value.new" AS Value_new,
                   CommentEN, CommentFR
            FROM read_csv('{_GOLDEN_DIR}/output/gdp_comparison.csv',
                          header=true, nullstr='NA',
                          columns={{'Code':'VARCHAR','Economy_Label':'VARCHAR',
                                    'Year':'INTEGER','Variable':'VARCHAR',
                                    'Value.old':'DOUBLE','Value.new':'DOUBLE',
                                    'CommentEN':'VARCHAR','CommentFR':'VARCHAR'}})
            -- the (2024, current) slice is where the reference's own two
            -- artifacts disagree with each other; excluded on both sides
            WHERE NOT (Year = 2024 AND Variable = 'GDP_at_current_prices')
        """)
def q_golden_release_diff(spark, sf_dir):
    """REAL-DATA golden parity (§3.2: S1+J5+J6+R2+C1): re-run the full
    release-comparison chain (``gdp_compare_with_old_data.R:20-51``) on
    the reference's real old release + label dim + published update;
    the oracle reads the published ``output/gdp_comparison.csv``.  The
    (2024, current-prices) slice is excluded on BOTH sides: there the
    reference's own two artifacts disagree with each other (the golden
    comparison predates the published update's CPI-deflator 2024
    estimates — 64 rows, dissected in tests/test_golden_reference.py);
    everything else (32,612 rows) must match row-for-row."""
    from gdp_etl_spark.plans.golden import golden_comparison

    skew = (F.col("Year") == 2024) & (
        F.col("Variable") == "GDP_at_current_prices"
    )
    return golden_comparison(spark).filter(~skew)


@query(oracle=f"""
            SELECT Series, Country, Year, Period, NAComponent, Measure,
                   Source, DataSource, Value, DataStatus,
                   DataConfidentiality, CommentEN, CommentFR,
                   CommentConfidentiality, RefDate
            FROM read_csv('{_GOLDEN_DIR}/output/gdp_update_usis.csv',
                          header=true, nullstr='NA',
                          columns={{'Series':'VARCHAR','Country':'VARCHAR',
                                    'Year':'INTEGER','Period':'VARCHAR',
                                    'NAComponent':'VARCHAR','Measure':'VARCHAR',
                                    'Source':'VARCHAR','DataSource':'VARCHAR',
                                    'Value':'DOUBLE','DataStatus':'VARCHAR',
                                    'DataConfidentiality':'VARCHAR',
                                    'CommentEN':'VARCHAR','CommentFR':'VARCHAR',
                                    'CommentConfidentiality':'VARCHAR',
                                    'RefDate':'VARCHAR'}})
        """)
def q_golden_usis_export(spark, sf_dir):
    """REAL-DATA golden parity (S7+C3+C6+F5): apply the 15-column USIS
    export layout (plans.gdp.export_usis_layout,
    ``gpd_etl_pipeline.R:525-558``) to the published update with the
    reference's run date injected; the oracle reads the published
    ``output/gdp_update_usis.csv``.  All 22,046 rows, all 15 columns
    including the formatted RefDate."""
    from gdp_etl_spark.plans.gdp import export_usis_layout
    from gdp_etl_spark.plans.golden import load_gdp_update

    return export_usis_layout(load_gdp_update(spark), run_date="2025-08-29")


# published update verbatim: the Spark side recomputes both
# comment columns from (Economy_Code, Year) and must agree on
# every row
@query(oracle=f"""
            SELECT Economy_Code, Economy_Label, Year, Variable, Value,
                   CommentEN, CommentFR
            FROM read_csv('{_GOLDEN_DIR}/output/gdp_update.csv',
                          header=true, nullstr='NA',
                          columns={{'Economy_Code':'VARCHAR',
                                    'Economy_Label':'VARCHAR',
                                    'Year':'INTEGER','Variable':'VARCHAR',
                                    'Value':'DOUBLE','CommentEN':'VARCHAR',
                                    'CommentFR':'VARCHAR'}})
        """)
def q_golden_comments(spark, sf_dir):
    """REAL-DATA golden parity (C1×8, bilingual): strip the published
    ``CommentEN``/``CommentFR`` from ``output/gdp_update.csv`` and
    re-derive both columns from (Economy_Code, Year) alone via the 8
    successor-economy provenance rules (plans.gdp.add_comments,
    ``gpd_etl_pipeline.R:415-518``); the oracle reads the published
    file verbatim.  A hash match is bit-exact reproduction of the last
    recomputable slice of the real deliverable — all 30,098 rows, all
    7 columns, both languages."""
    from gdp_etl_spark.plans.golden import golden_comments

    return golden_comments(spark)
