from pulsar_ingestion_spark.operators.translators import (  # noqa: F401
    translate_calamp,
    translate_ford,
    translate_geotab,
)
from pulsar_ingestion_spark.operators.legacy import translate_legacy  # noqa: F401
from pulsar_ingestion_spark.operators.filterer import (  # noqa: F401
    append_tenant_dirs,
    extract_tenant,
    filter_routable,
    route,
)
