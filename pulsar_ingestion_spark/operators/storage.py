"""Storage-layout operators: bucketing for shuffle-free co-located joins.

At 100 TB the same fact-fact equi-join runs daily; paying its shuffle
every run is the single largest recurring cost.  Bucketing both tables on
the join key at write time (`bucketBy(n, key).sortBy(key)`) lets every
subsequent join/aggregation on that key run with ZERO exchange — Spark
reads bucket i of A and bucket i of B into the same task.

Local demo writes to the session's spark-warehouse; production would use
the lake catalog.  Bucket count: ~(table size / 128 MB), same for both
sides (Spark requires equal or multiple bucket counts to avoid shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP IF EXISTS plus leftover-location cleanup: the default catalog
    is in-memory, so a table written by a PREVIOUS process is unknown to
    DROP yet its directory still occupies the warehouse path — saveAsTable
    would fail on the non-empty location."""
    import os
    import shutil
    from urllib.parse import urlparse

    # Resolve the true location BEFORE dropping, via the catalog when the
    # table is known to this session; otherwise derive it from the
    # qualified name: <warehouse>/<db>.db/<tbl> for non-default databases,
    # <warehouse>/<tbl> for the default — NOT the bare trailing name,
    # which would point a db.tbl drop at an unrelated default-db table
    # (ADVICE r2).
    loc = None
    # tableExists first: DESCRIBE on an unknown table logs a full analyzer
    # stack trace at ERROR before raising — pure noise in multi-query runs.
    if spark.catalog.tableExists(table):
        try:
            detail = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            for r in detail:
                if r["col_name"] == "Location":
                    loc = urlparse(r["data_type"]).path
                    break
        except Exception:  # dropped concurrently between the two calls
            pass
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if loc is None:
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        parsed = urlparse(wh)
        wh_path = parsed.path if parsed.scheme in ("file", "") else None
        if wh_path is None:
            return
        parts = table.lower().split(".")
        if len(parts) == 2:
            db, tbl = parts
        else:
            db, tbl = spark.catalog.currentDatabase().lower(), parts[-1]
        rel = tbl if db == "default" else os.path.join(f"{db}.db", tbl)
        loc = os.path.join(wh_path, rel)
    if loc and os.path.exists(loc):
        shutil.rmtree(loc)


def write_cmf_warehouse(
    cmf_flat: DataFrame,
    table: str,
    date_col: str = "event_date",
    key_col: str = "partitionKey",
    sort_cols: tuple[str, ...] | None = None,
    num_buckets: int = 8,
) -> None:
    """CMF-at-rest layout (SCALE.md §1): date partitions × vehicle-key
    buckets, sorted within bucket by (key, epoch).

    Date partition dirs give partition pruning for time-range queries;
    bucketing by partitionKey (= vehicleId, GeotabTranslator.kt:143) means
    per-vehicle analytics (lag/session/window) read pre-clustered data —
    the window's hash-distribution requirement is satisfied by the scan,
    no exchange (asserted in tests/test_plans.py).
    """
    spark = cmf_flat.sparkSession
    _drop_table_and_location(spark, table)
    sort_cols = sort_cols or (key_col,)
    # Align rows to their (date partition, bucket) BEFORE the write: a
    # bucketed save emits one file per task per (partition, bucket) it
    # holds rows for, so an unaligned upstream (e.g. shuffle_partitions
    # tasks each touching every month) multiplies the file count by the
    # task count — measured 52k ~20 KB files on a 10M-row / ~100-month
    # synth, with the resulting listing+footer overhead making a bare
    # scan of the table slower than the analytics on top of it
    # (SCALE.md §6o).  After aligning, each (date, bucket) lands as
    # exactly one file.  Spark can't hash-partition by bucket id
    # directly, but pmod(hash(key), num_buckets) IS the bucket spec's
    # assignment, so this repartition co-locates precisely the rows that
    # share an output file.
    aligned = cmf_flat.repartition(
        F.col(date_col), F.pmod(F.hash(F.col(key_col)), F.lit(num_buckets))
    )
    (
        aligned.write.partitionBy(date_col)
        .bucketBy(num_buckets, key_col)
        .sortBy(*sort_cols)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
