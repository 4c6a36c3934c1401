from pulsar_ingestion_spark.functions.timeutil import (  # noqa: F401
    epoch_millis_to_iso8601,
    epoch_seconds_to_iso8601,
    iso8601_to_epoch_millis,
)
from pulsar_ingestion_spark.functions.enums import normalize_enum  # noqa: F401
