from pulsar_ingestion_spark.streaming.windows import (  # noqa: F401
    tumbling_agg,
    watermark_dedup,
)
from pulsar_ingestion_spark.streaming.stateful import ignition_transitions  # noqa: F401
