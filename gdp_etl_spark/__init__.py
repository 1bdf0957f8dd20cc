"""gdp_etl_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference ETL pipeline (JaromirKoflak/gdp-etl, surveyed in SURVEY.md),
re-expressed as idiomatic Spark: lazy DataFrame plans, Catalyst
optimization, broadcast joins for dimensions, and zero Python UDFs on hot
paths.  Beyond the reference surface it adds the operators a large-scale
training-data pipeline needs: deduplication (exact / MinHash-LSH /
SimHash / n-gram Jaccard / embedding-cosine), similarity search,
multimodal binary-column plumbing, and text analysis.

Layout:
    session    — SparkSession factory tuned for scale-out defaults
    schemas    — explicit StructTypes (string codes: the #1 hazard)
    sources    — CSV/Excel/HTTP ingestion kept off the executors
    io         — table loading + CSV/parquet sinks
    functions  — Column-level expression library (text, vectors; no UDFs)
    operators  — reusable relational/dataflow operators (closure, windows,
                 reshape, diff, dedup, similarity, sessions, multimodal)
    plans      — the reference ETL pipeline, release diff and QA suite
                 re-expressed as lazy stages
    streaming  — Structured Streaming equivalents for the events table
    queries    — the driver's query families: each builder beside its
                 DuckDB oracle, filling one registry
"""

__version__ = "0.2.0"
