"""snowflake_azure_etl_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ELT pipeline (rahil911/snowflake-azure-etl): schema-declared
sources, a star-schema warehouse build DAG (dimensions with surrogate keys
and unknown members, facts with derived measures), an analytical view layer
(star joins, window functions, CTEs), plus north-star extensions
(streaming over events, dedup / similarity / text operators for LLM data
pipelines) — all expressed Spark-first: DataFrame/SQL plans optimized by
Catalyst, Parquet + Tungsten execution, AQE for runtime re-planning.

Layout:
    session      SparkSession factory tuned for the engine
    sources      source registry + Snowflake-style CSV ingestion semantics
    functions    scalar/date expression library (NULL defaulting, safe
                 ratios, date attributes, deterministic-hash helpers)
    plans        warehouse build DAG: date dim, surrogate keys, star build
    operators    dedup, similarity search, text analysis, multimodal media
    streaming    Structured Streaming over the events table
    workload     the named query catalog (Spark fn + DuckDB oracle pairs)
"""

__version__ = "0.1.0"
