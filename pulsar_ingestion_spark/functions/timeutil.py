"""Timestamp codecs — the reference's epoch-unit zoo as column expressions.

The reference carries timestamps as ISO-8601 strings plus epoch millis:
  * ISO → epoch ms:   Instant.parse(...).toEpochMilli()   (GeotabTranslator.kt:108)
  * epoch s → ms:     msg_ts * 1000                        (CalAmpTranslator.kt:100)
  * epoch ms → ISO:   Instant.ofEpochMilli(...).atOffset(UTC)
                        .format(ISO_OFFSET_DATE_TIME)      (GeotabTranslator.kt:89,109)

The golden strings are second-precision UTC with a trailing ``Z``
(``2023-10-26T10:00:00Z`` — GeotabTranslatorTest.kt:60), so the encode
pattern is ``yyyy-MM-dd'T'HH:mm:ssXXX`` under a UTC session timezone
(XXX renders offset 0 as ``Z``).  All pure built-ins → whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Second-precision ISO-8601 with Z for UTC — matches
# DateTimeFormatter.ISO_OFFSET_DATE_TIME output for whole-second instants.
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ssXXX"
# ISO_OFFSET_DATE_TIME renders fractional seconds when non-zero; Instant
# values carry millis, so the fractional form is exactly 3 digits.
ISO_FMT_MILLIS = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"

# Instant.parse-equivalent strictness (java.time ISO_INSTANT/ISO_OFFSET):
# full date-time, 'T' separator, optional fraction, REQUIRED offset
# ('Z' or ±HH:MM).  Spark's default to_timestamp is far laxer (date-only,
# space separator, offset-less all parse) — those must NOT pass the
# translator validity predicate; the reference dead-letters them.
ISO_STRICT_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,9})?(Z|[+-]\d{2}:\d{2})$"


def epoch_millis_to_iso8601(col: Column) -> Column:
    """epoch-millis long → canonical ISO-8601 UTC string (trailing Z).

    Whole-second instants render second-precision (``2023-10-26T10:00:00Z``
    — the golden form, GeotabTranslatorTest.kt:60); non-zero millis render
    ``.SSS`` like ISO_OFFSET_DATE_TIME does (ADVICE r1: truncating millis
    diverged from the reference wire output for e.g. Ford captureTime)."""
    ts = F.timestamp_millis(col)
    return F.when(col % 1000 == 0, F.date_format(ts, ISO_FMT)).otherwise(
        F.date_format(ts, ISO_FMT_MILLIS)
    )


def epoch_seconds_to_iso8601(col: Column) -> Column:
    """epoch-seconds long → canonical ISO-8601 UTC string."""
    return F.date_format(F.timestamp_seconds(col), ISO_FMT)


def iso8601_to_epoch_millis(col: Column) -> Column:
    """ISO-8601-with-offset string → epoch millis; null on anything
    Instant.parse would reject (the translator's drop/dead-letter path).

    The rlike gate keeps parity with the reference: Jackson+Instant.parse
    rejects offset-less or space-separated strings that Spark's lenient
    to_timestamp would happily translate (ADVICE r1)."""
    return F.when(col.rlike(ISO_STRICT_RE), F.unix_millis(F.to_timestamp(col)))
