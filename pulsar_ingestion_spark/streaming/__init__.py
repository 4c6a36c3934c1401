from pulsar_ingestion_spark.streaming.stateful import ignition_transitions  # noqa: F401
