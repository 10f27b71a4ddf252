"""PySpark-native analytics engine with the query/data-processing
capabilities of ``uma1r111/big-data-project-datapipeline`` (see SURVEY.md),
re-expressed Spark-first, plus LLM-training-data pipeline extensions
(dedup, similarity search, text analysis) designed for 100 TB scale.

Layout
------
- ``session``    SparkSession factory (UTC, AQE, Arrow).
- ``schemas``    explicit StructTypes for every table.
- ``sources``    scan normalizers: JSON payload layouts, CSV/Parquet (SURVEY §2.1).
- ``operators``  relational ops Spark lacks natively: as-of join, keep-last
                 merge, incremental anti-join delta, two-pass z-score (§2.5-2.10).
- ``functions``  column-level feature functions: temporal, interaction, log,
                 text analysis, dedup hashing, vector similarity (§2.8-2.13 + ext).
- ``plans``      end-to-end lazy pipelines mirroring the reference's two jobs (§3).
- ``streaming``  the cron's Structured Streaming substring dedup of the day's docs (§2.11).
"""

__version__ = "0.1.0"
