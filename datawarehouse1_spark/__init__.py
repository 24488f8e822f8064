"""datawarehouse1_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference warehouse (Gbessaya-joseph/Datawarehouse1:
a pandas->Postgres star-schema ETL, surveyed in SURVEY.md) as an
idiomatic Spark engine: DataFrame/SQL declarative plans, Catalyst/AQE
optimization, Structured Streaming ingest, plus the scale extensions a
100 TB training-data pipeline needs (dedup, similarity search, text
analysis, multimodal plumbing).

Layout:
    session      SparkSession factory (AQE on, UTC, tuned shuffle)
    catalog      testdata table loading / temp-view registration
    registry     declared-query registry (queries() + oracle_sql())
    queries/     declared queries from SURVEY.md §2 (one module per family)
    operators/   reusable warehouse/dedup/similarity operators
    sources/     ingest sources (xlsx via binaryFile+pandas, parquet)
    streaming/   Structured Streaming ingest analog of the reference loop
    functions/   scalar/vector helper expressions (money, excel dates, text)
    multimodal/  binary-column (image/audio) plumbing with stubbed decoders
    zip_finders  zip import finders that skip unchanged-archive re-reads
"""

from datawarehouse1_spark import zip_finders

# Runs in every Python worker that deserializes package code: later tasks
# in that worker skip pyspark.zip's per-task directory re-reads.
zip_finders.install()

from datawarehouse1_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
__version__ = "0.1.0"
