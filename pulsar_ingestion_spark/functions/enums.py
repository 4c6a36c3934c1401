"""Closed-set enum normalization with UNKNOWN default.

Reference semantics (GeotabTranslator.kt:120-124, asserted for the AJAR
case in GeotabTranslatorTest.kt:126-142): uppercase the input, keep it if
it is a member of the closed value set, otherwise UNKNOWN.  Absent/null
input is also UNKNOWN — the enums are never null in CMF output.
Kotlin's ``uppercase()`` is ``String.toUpperCase(Locale.ROOT)``, and so
is ``F.upper`` here: the session maps case on the JVM (JDK 17, Unicode
13), not through ICU (see functions/text.py), so "ß" becomes "SS" in
both and a letter newer than Unicode 13 is left as it is in both.

Pure CASE WHEN — stays inside whole-stage codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pulsar_ingestion_spark.schemas.cmf import ENUM_VALUES


def normalize_enum(col: Column, allowed: list[str] | str, default: str = "UNKNOWN") -> Column:
    """Uppercase + closed-set membership, else ``default``.

    ``allowed`` may be an explicit value list or the name of an enum family
    from :data:`pulsar_ingestion_spark.schemas.cmf.ENUM_VALUES`.
    """
    if isinstance(allowed, str):
        allowed = ENUM_VALUES[allowed]
    up = F.upper(col)
    return F.when(up.isin([v for v in allowed if v != default]), up).otherwise(F.lit(default))
