"""The engine's case-mapping contract: ``F.lower``/``F.upper`` on a
``get_spark`` session are ``java.lang.String.toLowerCase``/``toUpperCase``
with ``Locale.ROOT`` (the mapping of the reference's Kotlin
``uppercase()``), not ICU's.  The two differ on letters newer than the
JDK's Unicode version, so the list holds three of those in both cases,
plus the letters whose mapping is special in every engine."""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.enums import normalize_enum
from pulsar_ingestion_spark.session import _LOCAL_DEFAULTS

ICU_KEY = "spark.sql.icu.caseMappings.enabled"

SAMPLES = [
    "Ⱟ", "ⱟ",            # Glagolitic caudate chrivi (Unicode 14), both cases
    "\U00010570", "\U00010597",    # Vithkuqi A (Unicode 14), both cases
    "Ꟁ", "ꟁ",            # Latin old polish o (Unicode 14), both cases
    "İ",                      # İ: lower is i + combining dot
    "ΟΔΟΣ", "οδος",                # capital sigma at the end of a word
    "ß", "ﬃ",                 # upper expands to SS, FFI
    "ǅ",                      # ǅ titlecase digraph
    "ＡＢＣａｂｃ",                # fullwidth
    "AbC", "ajar",                 # ASCII
]


def _java_case(spark, method: str, s: str) -> str:
    """``s.<method>(Locale.ROOT)`` on the JVM, called by reflection (py4j
    hands Java strings back as Python ones, so there is no String proxy
    to call it on)."""
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    root = jvm.java.util.Locale.ROOT
    types = gw.new_array(jvm.java.lang.Class, 1)
    types[0] = root.getClass()
    args = gw.new_array(jvm.java.lang.Object, 1)
    args[0] = root
    return jvm.java.lang.Class.forName("java.lang.String").getMethod(method, types).invoke(s, args)


def _samples(spark):
    return spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)], "i int, s string")


def test_get_spark_maps_case_on_the_jvm(spark):
    assert _LOCAL_DEFAULTS[ICU_KEY] == "false"
    assert spark.conf.get(ICU_KEY) == "false"


def test_lower_upper_equal_java_root_locale(spark):
    rows = (_samples(spark).select("i", F.lower("s").alias("lo"), F.upper("s").alias("up"))
            .orderBy("i").collect())
    got = [(r["lo"], r["up"]) for r in rows]
    want = [(_java_case(spark, "toLowerCase", s), _java_case(spark, "toUpperCase", s))
            for s in SAMPLES]
    assert got == want


def test_normalize_enum_upper_cases_like_java(spark):
    """Every JVM upper-casing of the list is an allowed value, so each
    input must come back as exactly that, and NULL as the default."""
    uppers = [_java_case(spark, "toUpperCase", s) for s in SAMPLES]
    df = _samples(spark).unionByName(spark.createDataFrame([(len(SAMPLES), None)], "i int, s string"))
    rows = df.select("i", normalize_enum(F.col("s"), sorted(set(uppers))).alias("e")).orderBy("i")
    assert [r["e"] for r in rows.collect()] == uppers + ["UNKNOWN"]
