"""Mergeable sketch construction as DataFrame plans: count-min sketch
and Bloom filter.

Unlike `approx_count_distinct` (HLL — engine-internal bytes, rows-only
checkable), these sketches are built from DETERMINISTIC md5-derived
hashes, so a DuckDB oracle reconstructs the identical counter/bit
arrays and the driver hash-checks them exactly.

Why they matter at 100 TB: both are one-shuffle aggregations whose
state is O(sketch size), not O(keys) — the partial aggregate collapses
every map task to ≤ width×depth (CMS) or ≤ words (Bloom) rows before
the exchange, and sketches from different days/partitions MERGE by
cell-wise add / word-wise OR, which is exactly what the final agg does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import (
    _CMS_DEPTH,
    _CMS_WIDTH,
    _HLL_ALPHA,
    _HLL_M,
    _HLL_WBITS,
    _RHO_CASE,
    cms_bucket,
    hll_registers,
    hll_summary,
    md5_lane,
)
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import load_tables


def _cms_bucket_sql(depth: str, key: str) -> str:
    return (
        f"CAST(('0x' || substring(md5(concat('cms', {depth}, ':', {key})), 1, 8)) AS BIGINT)"
        f" % {_CMS_WIDTH}"
    )


_CMS_ORACLE = f"""
WITH rows_h AS (
  SELECT d.depth, {_cms_bucket_sql('d.depth', 'e.event_type')} AS bucket
  FROM events e, (SELECT unnest(range(0, {_CMS_DEPTH})) AS depth) d
), counters AS (
  SELECT depth, bucket, count(*) AS cnt FROM rows_h GROUP BY depth, bucket
), keys AS (
  SELECT DISTINCT event_type FROM events
), key_buckets AS (
  SELECT k.event_type, d.depth, {_cms_bucket_sql('d.depth', 'k.event_type')} AS bucket
  FROM keys k, (SELECT unnest(range(0, {_CMS_DEPTH})) AS depth) d
), est AS (
  SELECT kb.event_type, min(c.cnt) AS cms_est
  FROM key_buckets kb JOIN counters c
    ON kb.depth = c.depth AND kb.bucket = c.bucket
  GROUP BY kb.event_type
), exact AS (
  SELECT event_type, count(*) AS exact_cnt FROM events GROUP BY event_type
)
SELECT e.event_type, e.cms_est, x.exact_cnt
FROM est e JOIN exact x ON e.event_type = x.event_type
"""


@query("sketch_countmin", oracle=_CMS_ORACLE)
def q_sketch_countmin(spark, sf_dir):
    """Count-min sketch (depth 4 × width 256) over event_type, plus the
    point-query estimates for every distinct key next to the exact
    counts (CMS guarantees est ≥ exact; equality when no collisions).
    Plan: explode rows ×depth → (depth, bucket) partial counts collapse
    map-side to ≤1024 combiner rows per task; key estimates join the
    counter table (sketch-sized, broadcast)."""
    (ev,) = (load_tables(spark, sf_dir)[n] for n in ("events",))
    depths = F.array([F.lit(i) for i in range(_CMS_DEPTH)])
    bucket = cms_bucket(F.col("depth"), F.col("event_type")).alias("bucket")
    rows_h = ev.select(
        F.explode(depths).alias("depth"), F.col("event_type")
    ).select("depth", bucket)
    counters = rows_h.groupBy("depth", "bucket").agg(F.count("*").alias("cnt"))
    keys = ev.select("event_type").distinct()
    kb = keys.select(
        "event_type", F.explode(depths).alias("depth")
    ).select("event_type", "depth", bucket)
    est = (
        kb.join(F.broadcast(counters), ["depth", "bucket"])
        .groupBy("event_type")
        .agg(F.min("cnt").alias("cms_est"))
    )
    exact = ev.groupBy("event_type").agg(F.count("*").alias("exact_cnt"))
    return est.join(exact, "event_type").select("event_type", "cms_est", "exact_cnt")


_BLOOM_BITS = 2048
_BLOOM_K = 3


def _bloom_pos_sql(i: str, key: str) -> str:
    return (
        f"CAST(('0x' || substring(md5(concat('bf', {i}, ':', {key})), 1, 8)) AS BIGINT)"
        f" % {_BLOOM_BITS}"
    )


_BLOOM_ORACLE = f"""
WITH pos AS (
  SELECT DISTINCT {_bloom_pos_sql('h.i', 'CAST(e.user_id AS VARCHAR)')} AS pos
  FROM events e, (SELECT unnest(range(0, {_BLOOM_K})) AS i) h
)
SELECT pos // 32 AS word_idx,
       bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS word_bits,
       count(*) AS bits_set
FROM pos GROUP BY pos // 32
"""


@query("sketch_bloom_build", oracle=_BLOOM_ORACLE)
def q_sketch_bloom_build(spark, sf_dir):
    """Bloom filter build (2048 bits, k=3) over the distinct user set,
    materialized as 32-bit half-words — the structure broadcast to prune
    a fact scan before an expensive join (Spark's own runtime bloom
    pushdown does the same thing; this one is portable and mergeable by
    word-wise OR).  32-bit words keep every shift amount ≤ 31, so the
    packed value is identical in any signed-64-bit engine (a shift of 63
    would overflow DuckDB's BIGINT and flip sign in Spark's).  One
    shuffle; per-task state ≤ 64 words."""
    (ev,) = (load_tables(spark, sf_dir)[n] for n in ("events",))
    hashes = F.array([F.lit(i) for i in range(_BLOOM_K)])
    pos = (
        ev.select(F.col("user_id").cast("string").alias("k"))
        .select("k", F.explode(hashes).alias("i"))
        .select(
            (md5_lane(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("k")), "bf")
             % _BLOOM_BITS).alias("pos")
        )
        .distinct()
    )
    return (
        pos.groupBy(F.expr("pos div 32").alias("word_idx"))
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))")
            .alias("word_bits"),
            F.count("*").alias("bits_set"),
        )
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog + bloom-pruned semi-join

_HLL_ORACLE = f"""
WITH h AS (
  SELECT CAST(('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
), parts AS (
  SELECT hv % {_HLL_M} AS bucket, hv // {_HLL_M} AS w FROM h
), regs AS (
  SELECT bucket, max({_RHO_CASE}) AS register
  FROM parts GROUP BY bucket
), s AS (
  SELECT count(*) AS used,
         CAST(coalesce(SUM(CAST(2 AS BIGINT) ** ({_HLL_WBITS + 1} - register)), 0) AS BIGINT)
           AS sum_scaled
  FROM regs
)
SELECT {_HLL_M} AS m, CAST(used AS BIGINT) AS buckets_used,
       CAST(sum_scaled + ({_HLL_M} - used) * (CAST(2 AS BIGINT) ** {_HLL_WBITS + 1}) AS BIGINT)
         AS sum_scaled_full,
       round(CASE WHEN raw_est <= 2.5 * {_HLL_M} AND used < {_HLL_M}
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - used))
                  ELSE raw_est END, 4) AS hll_estimate,
       (SELECT count(DISTINCT user_id) FROM events) AS exact_distinct
FROM (
  SELECT used, sum_scaled,
         CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M} * (CAST(2 AS BIGINT) ** {_HLL_WBITS + 1})
           / (sum_scaled + ({_HLL_M} - used) * (CAST(2 AS BIGINT) ** {_HLL_WBITS + 1})) AS raw_est
  FROM s
) t
"""


@query("sketch_hll_portable", oracle=_HLL_ORACLE)
def q_sketch_hll_portable(spark, sf_dir):
    """Engine-portable HyperLogLog (m=64) over the user set —
    approx_count_distinct's HLL state is engine-internal bytes
    (rows-only checkable); this one derives registers from md5
    (`operators.sketch.hll_registers` / `hll_summary`) so the DuckDB
    oracle reconstructs the identical sketch and estimate.
    rho comes from a comparison ladder, NOT floating log2 (log2(2^k)
    lands below k in libm and floors wrong), and the harmonic sum is
    kept in scaled INTEGER arithmetic (sum of 2^(27-rho)) so no
    float-summation order exists at all.  The small-range regime
    (raw estimate ≤ 2.5m with empty registers) applies the standard
    linear-counting correction m·ln(m/zeros) — raw HLL overestimates
    badly when n ≲ m (tests/test_sketches.py pins the 3σ envelope).
    One shuffle; per-task state ≤ 64 registers; day-partition sketches
    merge by register max."""
    (ev,) = (load_tables(spark, sf_dir)[n] for n in ("events",))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return hll_summary(hll_registers(ev, "user_id")).crossJoin(F.broadcast(exact)).select(
        F.lit(_HLL_M).alias("m"), "buckets_used", "sum_scaled_full", "hll_estimate",
        "exact_distinct",
    )


_BLOOM_JOIN_ORACLE = """
SELECT c.c_mktsegment,
       count(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_mktsegment
"""


@query("join_bloom_pruned", oracle=_BLOOM_JOIN_ORACLE)
def q_join_bloom_pruned(spark, sf_dir):
    """Semi-join with an explicit bloom-filter prune: build the 2048-bit
    bloom over DISTINCT order custkeys (one sketch-sized agg), broadcast
    its ≤64 words, pre-filter customers whose k=3 probe bits are all set,
    and only THEN run the exact semi-join.  The result is exactly the
    plain semi-join (bloom has no false negatives; false positives die
    in the exact join) — but at 100 TB the shuffle only carries the
    ~|matching|+ε customers instead of the whole dimension.  Spark's own
    runtime row-filter does this invisibly; this form is explicit,
    portable, and works across engine boundaries (e.g. pruning a scan
    fed to a different system)."""
    tabs = load_tables(spark, sf_dir)
    cu, od = tabs["customer"], tabs["orders"]

    def position(i: int, key_col):
        # xxhash64, not md5: this query's oracle is the plain semi-join
        # (bloom internals are engine-local here, unlike
        # sketch_bloom_build whose WORDS are the checked output), so the
        # build can use the cheap native hash — ~3x less CPU than
        # md5+hex-parse per probe.
        return F.pmod(F.xxhash64(F.lit(i), key_col), F.lit(_BLOOM_BITS))

    # Build: no distinct anywhere — bit_or is idempotent, so duplicate
    # custkeys/positions OR into the same bits and the partial agg still
    # collapses every map task to ≤64 word rows.
    pos_cols = [position(i, F.col("o_custkey")).alias(f"p{i}") for i in range(_BLOOM_K)]
    pos_union = od.select(F.explode(F.array(*pos_cols)).alias("pos"))
    words = pos_union.groupBy(F.expr("pos div 32").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))")
        .alias("word_bits")
    )

    # Probe: all k bits tested IN ONE ROW via k broadcast word lookups —
    # the customer side is never exploded, never shuffled, and drops
    # non-members inside its scan stage.
    probed = cu.select("c_custkey", "c_mktsegment", "c_acctbal")
    for i in range(_BLOOM_K):
        wi = words.select(
            F.col("word_idx").alias(f"wi{i}"), F.col("word_bits").alias(f"wb{i}")
        )
        probed = probed.withColumn(f"pos{i}", position(i, F.col("c_custkey"))).join(
            F.broadcast(wi), F.expr(f"pos{i} div 32") == F.col(f"wi{i}"), "left"
        ).filter(
            F.expr(
                f"(coalesce(wb{i}, CAST(0 AS BIGINT))"
                f" & shiftleft(CAST(1 AS BIGINT), CAST(pos{i} % 32 AS INT))) != 0"
            )
        )
    exact = probed.join(od, probed["c_custkey"] == od["o_custkey"], "left_semi")
    return exact.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias("sum_acctbal"),
    )


# ---------------------------------------------------------------------------
# Round 5b: sketch MERGEABILITY proof + deterministic per-group reservoir.
# Mergeability is the property that matters at 100 TB — per-partition /
# per-day sketches must union by register max without rescanning the data.
# ---------------------------------------------------------------------------

_HLL_MERGE_SCOPES_SQL = f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL
), parts AS (
  SELECT event_type, hv % {_HLL_M} AS bucket, hv // {_HLL_M} AS w FROM h
), regs_g AS (
  SELECT event_type, bucket, max({_RHO_CASE}) AS register
  FROM parts GROUP BY event_type, bucket
), regs_all AS (
  SELECT event_type AS scope, bucket, register FROM regs_g
  UNION ALL
  SELECT 'MERGED', bucket, max(register) FROM regs_g GROUP BY bucket
)
SELECT scope,
       CAST(count(*) AS BIGINT) AS buckets_used,
       CAST(SUM(CAST(2 AS BIGINT) ** ({_HLL_WBITS + 1} - register)) AS BIGINT) AS sum_scaled
FROM regs_all GROUP BY scope
"""

_HLL_MERGE_ORACLE = f"""
WITH s AS ({_HLL_MERGE_SCOPES_SQL})
SELECT scope, buckets_used,
       round(CASE WHEN raw_est <= 2.5 * {_HLL_M} AND buckets_used < {_HLL_M}
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - buckets_used))
                  ELSE raw_est END, 4) AS hll_estimate
FROM (
  SELECT scope, buckets_used,
         CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M} * (CAST(2 AS BIGINT) ** {_HLL_WBITS + 1})
           / (sum_scaled + ({_HLL_M} - buckets_used) * (CAST(2 AS BIGINT) ** {_HLL_WBITS + 1}))
           AS raw_est
  FROM s
) t
"""


@query("sketch_hll_merge", oracle=_HLL_MERGE_ORACLE)
def q_sketch_hll_merge(spark, sf_dir):
    """HLL mergeability: per-event-type register sets union into one
    global sketch by register-wise MAX — the exact operation that lets
    per-day / per-partition sketches at 100 TB combine without touching
    the raw data again.  Output: each scope's (buckets_used, estimate)
    plus the 'MERGED' row whose registers are max-merged from the five
    group sketches, never rebuilt from events.  Same portable md5
    register derivation, comparison-ladder rho, and integer-exact scaled
    harmonic sum as sketch_hll_portable; linear-counting small-range
    correction applied per scope."""
    (ev,) = (load_tables(spark, sf_dir)[n] for n in ("events",))
    regs_g = hll_registers(ev, "user_id", ("event_type",))
    merged = regs_g.groupBy("bucket").agg(F.max("register").alias("register")).select(
        F.lit("MERGED").alias("scope"), "bucket", "register"
    )
    regs_all = regs_g.select(
        F.col("event_type").alias("scope"), "bucket", "register"
    ).unionByName(merged)
    return hll_summary(regs_all, ("scope",)).select("scope", "buckets_used", "hll_estimate")


_RESERVOIR_K = 5

_RESERVOIR_ORACLE = f"""
WITH hashed AS (
  SELECT event_type, event_id,
         CAST(('0x' || substring(md5('rs:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM events
), ranked AS (
  SELECT event_type, event_id, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv, event_id) AS rn
  FROM hashed
)
SELECT event_type, rn, event_id, hv FROM ranked WHERE rn <= {_RESERVOIR_K}
"""


@query("sample_reservoir_hash", oracle=_RESERVOIR_ORACLE)
def q_sample_reservoir_hash(spark, sf_dir):
    """Deterministic per-group reservoir: an exact-k uniform sample per
    event type, selected as the k smallest portable hashes of the row
    key (bottom-k sampling — the distributed equivalent of reservoir
    sampling, and unlike Bernoulli sampling it guarantees EXACTLY k per
    group).  Each executor keeps its local bottom-k, the shuffle carries
    only candidates, and re-running on the same data reproduces the
    identical sample — the reproducibility every training-data split
    demands.  Complements sample_deterministic (Bernoulli by hash
    threshold, fraction-sized) and sample_stratified (per-stratum
    fractions)."""
    (ev,) = (load_tables(spark, sf_dir)[n] for n in ("events",))
    hashed = ev.select(
        "event_type", "event_id",
        md5_lane(F.col("event_id"), "rs:").alias("hv"),
    )
    w = Window.partitionBy("event_type").orderBy("hv", "event_id")
    return (
        hashed.select("event_type", "event_id", "hv", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _RESERVOIR_K)
        .select("event_type", "rn", "event_id", "hv")
    )


# ---------------------------------------------------------------------------
# Round-5b sketches: KMV (bottom-k) set intersection, a decimal log-bin
# quantile sketch, and weighted priority sampling.

_KMV_K = 8
_KMV_M = float(1 << 32)  # hash range: 32-bit md5 prefix

_KMV_ORACLE = f"""
WITH pa AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), pb AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
), ha AS (
  SELECT CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM pa
), hb AS (
  SELECT CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM pb
), ska AS (
  SELECT hv FROM ha ORDER BY hv LIMIT {_KMV_K}
), skb AS (
  SELECT hv FROM hb ORDER BY hv LIMIT {_KMV_K}
), sku AS (
  SELECT DISTINCT hv FROM (SELECT hv FROM ska UNION ALL SELECT hv FROM skb) t
  ORDER BY hv LIMIT {_KMV_K}
), stats AS (
  SELECT count(*) AS used, max(hv) AS hk,
         count(*) FILTER (WHERE hv IN (SELECT hv FROM ska)
                            AND hv IN (SELECT hv FROM skb)) AS both_cnt
  FROM sku
), exact AS (
  SELECT (SELECT count(*) FROM (SELECT user_id FROM pa UNION SELECT user_id FROM pb) u)
           AS exact_union,
         (SELECT count(*) FROM pa WHERE user_id IN (SELECT user_id FROM pb))
           AS exact_inter
)
SELECT {_KMV_K} AS k, used AS sketch_size, hk AS kth_hash,
       round((used - 1) * {_KMV_M} / hk, 4) AS union_est,
       round(CAST(both_cnt AS DOUBLE) / used, 6) AS jaccard_est,
       round(((used - 1) * {_KMV_M} / hk) * (CAST(both_cnt AS DOUBLE) / used), 4)
         AS inter_est,
       exact_union, exact_inter
FROM stats CROSS JOIN exact
"""


@query("sketch_kmv_intersect", oracle=_KMV_ORACLE)
def q_sketch_kmv_intersect(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) sketches for the purchaser and
    viewer user sets, merged to estimate |A∪B|, Jaccard, and |A∩B| —
    the distinct-set-overlap question (audience intersection) answered
    from two O(k) sketches instead of a full distinct join.  Key
    property used: an element of the UNION's bottom-k that belongs to A
    is necessarily in A's bottom-k too, so membership tests run against
    the sketches — exactly how merged KMV sketches compose in practice
    (sketch once per day/partition, merge by re-bottom-k).  Estimators:
    D̂ = (k'-1)·M/h_k (k' = sketch size, M = hash range), Ĵ = |S∩A∩B|/k',
    |A∩B| ≈ Ĵ·D̂.  Every per-set pass is a distinct + distributed top-k
    (TakeOrdered — no global sort); the final arithmetic is single IEEE
    ops on sketch-sized inputs."""
    ev = load_tables(spark, sf_dir)["events"]

    def sketch(event_type: str):
        users = ev.filter(F.col("event_type") == event_type).select("user_id").distinct()
        return (
            users.select(md5_lane(F.col("user_id"), "kmv:").alias("hv"))
            .orderBy("hv")
            .limit(_KMV_K)
        )

    ska = sketch("purchase").persist()
    skb = sketch("view").persist()
    sku = (
        ska.unionAll(skb).distinct().orderBy("hv").limit(_KMV_K)
    )
    in_both = (
        sku.join(ska.withColumnRenamed("hv", "ha"), F.col("hv") == F.col("ha"), "left_semi")
        .join(skb.withColumnRenamed("hv", "hb"), F.col("hv") == F.col("hb"), "left_semi")
        .agg(F.count("*").alias("both_cnt"))
    )
    stats = sku.agg(F.count("*").alias("used"), F.max("hv").alias("hk")).crossJoin(
        F.broadcast(in_both)
    )
    pa = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    pb = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    exact = (
        pa.unionAll(pb).distinct().agg(F.count("*").alias("exact_union"))
        .crossJoin(pa.join(pb, "user_id", "left_semi").agg(F.count("*").alias("exact_inter")))
    )
    union_est = (F.col("used") - 1) * F.lit(_KMV_M) / F.col("hk")
    jacc = F.col("both_cnt").cast("double") / F.col("used")
    return stats.crossJoin(F.broadcast(exact)).select(
        F.lit(_KMV_K).alias("k"),
        F.col("used").alias("sketch_size"),
        F.col("hk").alias("kth_hash"),
        F.round(union_est, 4).alias("union_est"),
        F.round(jacc, 6).alias("jaccard_est"),
        F.round(union_est * jacc, 4).alias("inter_est"),
        "exact_union",
        "exact_inter",
    )


# Decimal log-bins: bin key = (decimal digit count, first two digits) of
# the integer cent amount — pure string/integer ops, so both engines bin
# identically (a log2()/ln() bin edge would be an ulp hazard).  Two
# significant digits ≈ ≤5% relative error on the bin lower bound.
_QSK_QS = (0.5, 0.9, 0.99)

_QSKETCH_ORACLE = f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders
), binned AS (
  SELECT length(CAST(c AS VARCHAR)) AS ndig,
         CAST(substring(CAST(c AS VARCHAR), 1, 2) AS BIGINT) AS lead2,
         count(*) AS cnt
  FROM cents GROUP BY 1, 2
), cum AS (
  SELECT ndig, lead2, cnt,
         SUM(cnt) OVER (ORDER BY ndig, lead2) AS cum_cnt,
         SUM(cnt) OVER () AS n
  FROM binned
), targets AS (
  SELECT q, CAST(ceil(q * (SELECT max(n) FROM cum)) AS BIGINT) AS target
  FROM (VALUES (0.5), (0.9), (0.99)) t(q)
), hits AS (
  SELECT t.q, t.target, c.ndig, c.lead2,
         row_number() OVER (PARTITION BY t.q ORDER BY c.ndig, c.lead2) AS rn
  FROM targets t JOIN cum c ON c.cum_cnt >= t.target
)
SELECT CAST(q AS DOUBLE) AS q, target,
       CAST(lead2 * power_of_ten AS DOUBLE) / 100 AS est_lo
FROM (
  SELECT q, target, lead2,
         CAST(10 AS BIGINT) ** (ndig - 2) AS power_of_ten
  FROM hits WHERE rn = 1
) s
"""


@query("sketch_quantile_logbins", oracle=_QSKETCH_ORACLE)
def q_sketch_quantile_logbins(spark, sf_dir):
    """Mergeable quantile sketch over order totals using decimal log-bins:
    each value lands in the (digit-count, two-leading-digits) bin of its
    integer cent amount, counts accumulate per bin (map-side combine →
    one sketch-sized shuffle), and a quantile is answered as the lower
    bound of the first bin whose cumulative count reaches ceil(q·n) —
    ≤5% relative error by construction, and day-partition sketches merge
    by adding bin counts (the t-digest/KLL role, in a form two engines
    reproduce bit-for-bit because binning is pure integer/string math,
    never a float log).  State is O(bins) ≈ 90·digits, independent of
    data size."""
    orders = load_tables(spark, sf_dir)["orders"]
    cents = orders.select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    )
    s = F.col("c").cast("string")
    binned = (
        cents.select(
            F.length(s).alias("ndig"),
            F.substring(s, 1, 2).cast("bigint").alias("lead2"),
        )
        .groupBy("ndig", "lead2")
        .agg(F.count("*").alias("cnt"))
    )
    wcum = Window.orderBy("ndig", "lead2").rowsBetween(Window.unboundedPreceding, 0)
    cum = binned.select(
        "ndig", "lead2", F.sum("cnt").over(wcum).alias("cum_cnt")
    ).persist()
    n = binned.agg(F.sum("cnt").cast("bigint").alias("n"))
    targets = (
        spark.createDataFrame([(q,) for q in _QSK_QS], "q double")
        .crossJoin(F.broadcast(n))
        .select("q", F.ceil(F.col("q") * F.col("n")).cast("bigint").alias("target"))
    )
    hits = targets.join(cum, F.col("cum_cnt") >= F.col("target"))
    # first qualifying bin per quantile = min(struct(ndig, lead2)) — a
    # hash aggregate with map-side partials instead of a row_number
    # partition sort (r14 keep-best discipline; both fields non-null)
    return (
        hits.groupBy("q", "target")
        .agg(F.min(F.struct("ndig", "lead2")).alias("top"))
        .select(
            "q", "target",
            (
                (F.col("top.lead2")
                 * F.pow(F.lit(10.0), F.col("top.ndig") - 2)).cast("double")
                / 100
            ).alias("est_lo"),
        )
    )


_WKMV_K = 5

_WEIGHTED_ORACLE = f"""
WITH pri AS (
  SELECT event_type, event_id, value,
         CAST(('0x' || substring(md5('ws:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
           / value AS priority
  FROM events WHERE value > 0
), ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY priority, event_id) AS rn
  FROM pri
)
SELECT event_type, rn, event_id, value FROM ranked WHERE rn <= {_WKMV_K}
"""


@query("sample_weighted_kmv", oracle=_WEIGHTED_ORACLE)
def q_sample_weighted_kmv(spark, sf_dir):
    """Weighted priority sample: per event type, keep the k rows with the
    smallest hash/weight priority — heavier rows get proportionally
    smaller priorities, so selection probability grows with weight while
    staying fully deterministic and re-runnable (same data → same
    sample).  The priority is ONE IEEE division of exactly-representable
    inputs (32-bit integer hash, parquet double weight), so both engines
    order identically with no rounding step.  Distributed shape = bottom-k
    per group: executors keep local candidates, the shuffle carries only
    potential winners (same as sample_reservoir_hash, which this
    generalizes from uniform to weighted)."""
    ev = load_tables(spark, sf_dir)["events"]
    pri = ev.filter(F.col("value") > 0).select(
        "event_type", "event_id", "value",
        (md5_lane(F.col("event_id"), "ws:") / F.col("value")).alias("priority"),
    )
    w = Window.partitionBy("event_type").orderBy("priority", "event_id")
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WKMV_K)
        .select("event_type", "rn", "event_id", "value")
    )


# ---------------------------------------------------------------------------
# AMS (Alon–Matias–Szegedy) second-frequency-moment sketch (round 8).

_AMS_J = 16


def _ams_sign_sql(seed: str, key: str) -> str:
    return (
        f"CASE WHEN CAST(('0x' || substring(md5(concat('ams', {seed}, ':', {key})), 1, 8))"
        f" AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
    )


_AMS_ORACLE = f"""
WITH keys AS (
  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey
), signed AS (
  SELECT s.seed, SUM({_ams_sign_sql('s.seed', 'k.l_partkey')} * k.cnt) AS sj
  FROM keys k, (SELECT unnest(range(0, {_AMS_J})) AS seed) s
  GROUP BY s.seed
), ests AS (
  SELECT CAST(SUM(sj * sj) AS DOUBLE) / {_AMS_J} AS est_f2_mean,
         quantile_cont(CAST(sj * sj AS DOUBLE), 0.5) AS est_f2_median
  FROM signed
), exact AS (
  SELECT count(*) AS n_keys, SUM(cnt * cnt) AS exact_f2 FROM keys
)
SELECT CAST(x.n_keys AS BIGINT) AS n_keys,
       CAST(x.exact_f2 AS BIGINT) AS exact_f2,
       e.est_f2_mean, e.est_f2_median,
       round(abs(e.est_f2_mean - x.exact_f2) / x.exact_f2, 6) AS rel_err_mean
FROM ests e, exact x
"""


@query("sketch_ams_f2", oracle=_AMS_ORACLE)
def q_sketch_ams_f2(spark, sf_dir):
    """AMS second-frequency-moment (F₂ = Σ count²) sketch over part
    keys: 16 deterministic ±1 hash projections; each estimator is
    (Σ sign·count)² and the sketch reports their mean and median
    against the exact value.

    Scale shape: frequencies collapse first (one key-grouped shuffle —
    needed for the exact comparison anyway), then the sketch pass is 16
    signed partial sums — map-side combined to ≤16 rows per task, the
    same mergeable-state argument as count-min/Bloom.  On a stream the
    same signs make the sketch additively mergeable across windows.
    Median via exact interpolated percentile over the 16 estimators
    (identical lower+d·(upper−lower) arithmetic on both engines)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    keys = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    seeds = spark.range(_AMS_J).select(F.col("id").cast("int").alias("seed"))
    lane = md5_lane(F.concat(F.col("seed"), F.lit(":"), F.col("l_partkey")), "ams")
    sign = F.when(lane % 2 == 0, 1).otherwise(-1)
    signed = (
        keys.crossJoin(F.broadcast(seeds))
        .groupBy("seed")
        .agg(F.sum(sign * F.col("cnt")).alias("sj"))
    )
    ests = signed.agg(
        (F.sum(F.col("sj") * F.col("sj")).cast("double") / _AMS_J).alias("est_f2_mean"),
        F.expr("percentile(CAST(sj * sj AS DOUBLE), 0.5)").alias("est_f2_median"),
    )
    exact = keys.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("exact_f2"),
    )
    return ests.crossJoin(exact).select(
        "n_keys", "exact_f2", "est_f2_mean", "est_f2_median",
        F.round(
            F.abs(F.col("est_f2_mean") - F.col("exact_f2")) / F.col("exact_f2"), 6
        ).alias("rel_err_mean"),
    )


# ---------------------------------------------------------------------------
# Round 11 (session 3): Misra-Gries heavy hitters — the deterministic
# frequent-items sketch the family was missing next to CMS (point
# estimates) and HLL (cardinality).  Two-phase exact form: per-partition
# weighted MG summaries bound the candidate set, then an exact recount
# over candidates makes the OUTPUT exact (and oracle-checkable) — the
# standard 2-pass exact heavy hitters at 100 TB: the only full-data
# shuffles are a bounded semi-join and one grouped count.

_HH_K = 32          # report tokens with count > n/K (the fixture vocab is
                    # near-uniform at ~3.4% per type — K=32 puts the 3.125%
                    # threshold INSIDE the distribution so the output is a
                    # non-degenerate split at every SF)
_HH_MG_COUNTERS = 64  # per-partition MG counters (any value >= K-1 keeps
                      # the union guarantee; 2x margin shrinks candidates'
                      # undercount so fewer false candidates reach phase 2)

_HH_ORACLE = rf"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), tot AS (
  SELECT count(*) AS n FROM tok
), cnt AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
)
SELECT c.token, CAST(c.cnt AS BIGINT) AS cnt,
       CAST(c.cnt AS DOUBLE) / t.n AS share
FROM cnt c, tot t
WHERE c.cnt * {_HH_K} > t.n
"""


def mg_merge_reduce(counters: dict, add: dict, budget: int) -> dict:
    """Weighted Misra-Gries merge + reduction (one shared definition for
    the batch summarizer below and the streaming maintainer): add the
    ``add`` counts into ``counters``; if the dict exceeds ``budget``,
    subtract the (budget+1)-th largest count from every counter and drop
    the non-positive ones.  Each reduction removes its subtracted mass
    from >= budget+1 counters, so any item's total undercount after any
    merge sequence is <= W/(budget+1) for W = total merged weight — the
    MG mergeability guarantee (Berinde et al. 2010; Agarwal et al. 2013
    mergeable-summaries form)."""
    for tokv, c in add.items():
        counters[tokv] = counters.get(tokv, 0) + int(c)
    if len(counters) > budget:
        vals = sorted(counters.values(), reverse=True)
        m = vals[budget]  # the (budget+1)-th largest
        counters = {t: c - m for t, c in counters.items() if c - m > 0}
    return counters


def _mg_partition_summaries(it):
    """Weighted Misra-Gries over Arrow batches of ``(col, token)`` rows, one
    summary per ``col`` key: per batch and key, value_counts (vectorized)
    merges into the key's counters via :func:`mg_merge_reduce`.  Every token
    with partition count > n_p/(budget+1) in its key survives (the MG
    guarantee, weighted-update form).  Emitted rows carry the residual MG
    estimates plus ONE sentinel row per key (token NULL, est = the key's
    exact row count) so a single pass yields both the summaries and the
    exact totals — the batch query filters the sentinels out; the streaming
    maintainers read them instead of running a count() action.  Real tokens
    are never NULL (callers filter upstream), so a sentinel cannot collide."""
    import pandas as pd

    counters: dict = {}
    rows_seen: dict = {}
    for pdf in it:
        for key, toks in pdf.groupby("col", sort=False)["token"]:
            rows_seen[key] = rows_seen.get(key, 0) + len(toks)
            vc = toks.value_counts().to_dict()
            counters[key] = mg_merge_reduce(counters.get(key, {}), vc, _HH_MG_COUNTERS)
    rows = [(k, t, c) for k, cs in counters.items() for t, c in [*cs.items(), (None, rows_seen[k])]]
    yield pd.DataFrame(rows, columns=["col", "token", "est"]).astype({"est": "int64"})


def mg_summaries(df: DataFrame) -> DataFrame:
    """``(col, token, est)``: the MG summaries of each partition of ``df``'s
    ``(col, token)`` rows (:func:`_mg_partition_summaries`)."""
    return df.mapInPandas(_mg_partition_summaries, "col string, token string, est long")


@query("sketch_heavy_hitters", oracle=_HH_ORACLE)
def q_sketch_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters (tokens with count > n/K over the corpus
    token stream) via the 2-pass Misra-Gries scheme: (1) per-partition
    weighted MG summaries over Arrow batches — any GLOBAL heavy hitter
    exceeds n_p/K in some partition (pigeonhole), so the candidate union
    is a guaranteed superset; (2) exact counts for candidates only
    (broadcast semi-join + one grouped count), integer threshold
    cnt·K > n.  Output is EXACT, so the oracle is plain SQL; MG is the
    scale mechanism (candidate state is O(counters·partitions), never
    O(vocabulary))."""
    from pulsar_ingestion_spark.session import fan_out

    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
    ).persist()
    cand = (
        mg_summaries(toks.select(F.lit("").alias("col"), "token"))
        .filter(F.col("token").isNotNull())  # drop the per-partition sentinel
        .select("token")
        .distinct()
    )
    exact = (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    out = (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * _HH_K > F.col("n"))
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            (F.col("cnt").cast("double") / F.col("n")).alias("share"),
        )
    )
    return out
