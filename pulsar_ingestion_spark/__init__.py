"""pulsar_ingestion_spark — a PySpark-native streaming-ETL & analytics engine.

Brand-new engine (DataFrame/SQL/Catalyst + Structured Streaming) with the
query and data-processing capabilities of the reference stream-processor
``dummy-account-93467812749/pulsar-ingestion`` (surveyed in SURVEY.md), re-expressed
Spark-first, plus the large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Layout:
    schemas/    canonical CMF StructType + raw source-input schemas
    functions/  column-level helpers (timestamp codecs, enum normalize,
                text analysis, vector math)
    operators/  DataFrame->DataFrame transforms (translators, filterer,
                dedup, similarity, multimodal)
    sources/    batch + streaming source registry
    plans/      pipeline spec -> wired streaming/batch jobs
    streaming/  stateful transforms, incremental maintainers, monitors
"""

__version__ = "0.1.0"

from pulsar_ingestion_spark.session import get_spark  # noqa: F401
