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


def compact_partitioned_output(
    spark: SparkSession,
    base_path: str,
    partition_col: str = "tenantId",
    target_files_per_partition: int = 1,
) -> int:
    """Maintenance job: rewrite a partitioned sink dir with bounded file
    counts per partition.

    Streaming micro-batches accrete one file per partition per batch —
    after a day that's thousands of small files per tenant (the classic
    small-file problem).  The rewrite repartitions by partition value so
    each output dir gets ``target_files_per_partition`` files.  Returns
    the row count rewritten (sanity check for the atomic swap).

    At scale this runs per-partition-predicate (one day / one tenant at a
    time) so the rewrite unit stays bounded.  The swap is two renames
    (base→old, tmp→base): readers see old data until the first rename and
    new data after the second; the not-found window in between is two
    syscalls wide (a true atomic dir swap needs RENAME_EXCHANGE or a
    catalog pointer — metastore/Iceberg — in production).  Crash-safe in
    the sense that no state loses data: before the first rename the
    original is untouched; between renames the data lives intact in the
    ``__old_*`` dir and the swap can be finished by hand; after the second
    the new data is in place and only the ``__old_*`` cleanup remains.
    """
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    df = spark.read.parquet(base_path)
    n = df.count()
    tmp = f"{base_path}__compact_{uuid.uuid4().hex[:8]}"
    # Salt the repartition key: hashing by partition_col alone sends ALL of
    # a partition's rows to one task (one file, one straggler); the salt
    # spreads each partition over exactly target_files_per_partition tasks.
    salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(target_files_per_partition))
    (
        df.withColumn("_salt", salt)
        .repartition(F.col(partition_col), F.col("_salt"))
        .drop("_salt")
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    old = f"{base_path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(base_path, old)  # atomic: readers now miss, data intact in `old`
    os.rename(tmp, base_path)  # atomic: readers see the compacted layout
    shutil.rmtree(old)
    return n


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


def overwrite_tenant_partitions(
    df: DataFrame,
    base_path: str,
    partition_col: str = "tenantId",
    max_records_per_file: int | None = None,
) -> None:
    """Reprocess SOME tenants in a partitioned layout without touching the
    rest: dynamic partition overwrite replaces exactly the partition dirs
    present in ``df`` and leaves every other ``tenantId=`` dir intact
    (static overwrite — the default — would truncate the whole table).

    The multi-tenant repair/backfill primitive: re-run one tenant's
    translate+route and land it atomically per-partition while neighbors
    keep serving.  Session-config free: the mode is set per-write via the
    DataFrameWriter option, so concurrent appends elsewhere keep their
    semantics.  At scale the write shuffles nothing — each task writes the
    partitions its rows own, same as the append path.
    """
    w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.partitionBy(partition_col).parquet(base_path)


def upsert_latest(
    spark: SparkSession,
    updates: DataFrame,
    base_path: str,
    key_col: str,
    version_col: str,
    num_buckets: int = 16,
) -> None:
    """Latest-wins merge (CDC upsert) into a plain-parquet layout, without
    a table format: rows live in ``bucket=<pmod(hash(key))>`` partition
    dirs; a batch of updates touches ONLY the buckets its keys hash to —
    read those buckets back, union, keep max-``version_col`` per key
    (ties: incoming row wins), and dynamically overwrite just those
    partition dirs (:func:`overwrite_tenant_partitions` semantics).

    Scale shape: per batch the work is proportional to the touched
    buckets, not the table — with uniformly-hashed keys and B buckets, a
    batch touching k distinct keys rewrites ≤ min(k, B) dirs.  Raise
    ``num_buckets`` with table size so a bucket stays ~file-sized; the
    merge itself is one shuffle on the key.

    Durability/concurrency contract (ADVICE r2): the merge FULLY
    MATERIALIZES to a staging path first, then swaps each touched bucket
    dir with the two-rename discipline of
    :func:`compact_partitioned_output` — existing data is never modified
    until the replacement bucket is complete on disk, so a crash at any
    point leaves every bucket either old or new (never empty, never
    partial).  SINGLE WRITER REQUIRED: two concurrent batches touching
    the same bucket still race at the rename (last swap wins, the losing
    batch's merge is lost) — serialize upserts per table, or use a real
    table format (Iceberg/Delta) when multi-writer is needed.  The swap
    uses local renames (bench/test harness); object stores need the
    copy+delete equivalent or, again, a table format.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets))
    incoming = updates.withColumn("bucket", bucket).withColumn(
        "_src", F.lit(1)  # incoming beats existing on version ties
    )
    touched = [r["bucket"] for r in incoming.select("bucket").distinct().collect()]
    # Existence check through Hadoop FS (works for file://, s3a://, ...):
    # reading a touched-bucket list with ONE missing dir would raise and —
    # if swallowed — silently drop the existing rows of the present
    # buckets on the overwrite.  Only read dirs that exist.
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _exists(p: str) -> bool:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        return hp.getFileSystem(hconf).exists(hp)

    present = [b for b in touched if _exists(f"{base_path}/bucket={b}")]
    if present:
        existing = (
            spark.read.option("basePath", base_path)
            .parquet(*[f"{base_path}/bucket={b}" for b in present])
            .withColumn("_src", F.lit(0))
        )
        merged = existing.unionByName(incoming)
    else:  # first write for every touched bucket
        merged = incoming
    w = Window.partitionBy(key_col).orderBy(
        F.desc(version_col), F.desc("_src")
    )
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    # Stage the full merge, then swap per bucket (see docstring contract).
    import os
    import shutil
    import uuid

    tmp = f"{base_path}__upsert_{uuid.uuid4().hex[:8]}"
    latest.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    os.makedirs(base_path, exist_ok=True)
    for b in touched:
        src = os.path.join(tmp, f"bucket={b}")
        if not os.path.isdir(src):
            continue  # defensive: no surviving rows for this bucket
        dst = os.path.join(base_path, f"bucket={b}")
        old = f"{dst}__old_{uuid.uuid4().hex[:8]}"
        if os.path.isdir(dst):
            os.rename(dst, old)  # atomic: old data intact under __old_*
        os.rename(src, dst)  # atomic: readers see the merged bucket
        if os.path.isdir(old):
            shutil.rmtree(old)
    shutil.rmtree(tmp, ignore_errors=True)  # _SUCCESS marker etc.
