"""Statistical / time-series / corpus-statistics queries.

Extends the analytics surface (SURVEY.md §2.5) with the second-order
statistics a telemetry warehouse and a pretraining-data pipeline both
need: correlation/regression/higher moments, fixed-interval resampling
with gap fill, stratified sampling, passage-level dedup, embedding-norm
profiles, and a Zipf power-law fit over the token distribution.

Parity strategy for every double-valued statistic (registry.py rules):
per-row products are computed in DOUBLE (deterministic IEEE, no
order-dependence), cast to DECIMAL for the order-independent SUM, and
the closed-form moment formula is evaluated on the exact decimal sums
cast back to double, rounded before output.  Both engines therefore
fold identical inputs through an identical expression tree.

Scale notes are on each query; none of these shapes is worse than one
shuffle + (for the grid/gap-fill) an equi-join on the group key.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.vectors import dot
from pulsar_ingestion_spark.operators.ranking import best_struct
from pulsar_ingestion_spark.operators.sketch import md5_lane
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables


def _t(spark, sf_dir, *names):
    tables = load_tables(spark, sf_dir)
    return [tables[n] for n in names]


# ---------------------------------------------------------------------------
# Correlation / covariance (exact decimal moments)
#
# corr()/covar_samp() built-ins accumulate doubles in partition order —
# non-deterministic across engines AND across runs at scale.  The moment
# sums below are exact decimals, so the final double formula is
# reproducible bit-for-bit on both engines.

_CORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         -- DECIMAL(19,4): DuckDB multiplies int64-backed DECIMAL(18)
         -- in int64 and overflows on price*price; width 19 forces
         -- hugeint arithmetic.  Values are identical either way.
         -- Product sums rescale 8->4 IN DECIMAL (exact: 2dp*2dp = 4dp)
         -- before the double cast — DuckDB's DECIMAL->DOUBLE is off by
         -- 1 ulp once the unscaled value crosses 2^53 (parityfuzz
         -- finding; registry.py parity rules), and these sums cross it.
         CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DECIMAL(38,4)) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((n * sxy - sx * sy) / (n - 1) / n, 4) AS covar_samp,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
FROM m
"""


@query("agg_stats_corr", oracle=_CORR_ORACLE)
def q_agg_stats_corr(spark, sf_dir):
    """Pearson correlation + sample covariance of quantity vs price per
    returnflag.  One shuffle (partial agg map-side); the five moment sums
    travel as a single combiner row per group — at 100 TB this is the
    textbook one-pass parallel moments plan."""
    (li,) = _t(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("decimal(18,4)")
    yd = F.col("l_extendedprice").cast("decimal(18,4)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "l_returnflag",
        "n",
        F.round((n * sxy - sx * sy) / (n - 1) / n, 4).alias("covar_samp"),
        F.round(
            (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)), 6
        ).alias("corr"),
    )


_REGR_ORACLE = """
WITH m AS (
  SELECT l_linestatus,
         count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         -- rescale-before-cast: see _CORR_ORACLE comment
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx
  FROM lineitem GROUP BY l_linestatus
)
SELECT l_linestatus, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4) AS intercept
FROM m
"""


@query("agg_regr_slope", oracle=_REGR_ORACLE)
def q_agg_regr_slope(spark, sf_dir):
    """Least-squares regression (price ~ quantity) per linestatus from the
    same one-pass exact moments — the distributed equivalent of ANSI
    regr_slope/regr_intercept without their partition-order drift."""
    (li,) = _t(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("decimal(18,4)")
    yd = F.col("l_extendedprice").cast("decimal(18,4)")
    m = li.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_linestatus",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
    )


# Higher moments: per-row powers in double (deterministic products), each
# cast to decimal for the order-independent sum.  value ∈ [0, 500] so
# value^4 ≤ 6.3e10 — DECIMAL(38,6) holds sums through ~1e27 rows.
_SKEW_ORACLE = """
WITH m AS (
  SELECT event_type,
         count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
         CAST(SUM(CAST((value * value) * value AS DECIMAL(38,6))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(((value * value) * value) * value AS DECIMAL(38,6))) AS DOUBLE) AS s4
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       round(s1 / n, 4) AS mean,
       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
       round((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3, 6)
         AS kurtosis
FROM m
"""


@query("agg_skew_kurtosis", oracle=_SKEW_ORACLE)
def q_agg_skew_kurtosis(spark, sf_dir):
    """Population skewness + excess kurtosis of event value per type via
    one-pass raw moments — same single-shuffle shape as agg_stats_corr."""
    (ev,) = _t(spark, sf_dir, "events")
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("s2"),
        F.sum(((v * v) * v).cast("decimal(38,6)")).cast("double").alias("s3"),
        F.sum((((v * v) * v) * v).cast("decimal(38,6)")).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    return m.select(
        "event_type",
        "n",
        F.round(mu, 4).alias("mean"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("kurtosis"),
    )


# ---------------------------------------------------------------------------
# Time-series resample + gap fill

_RESAMPLE_ORACLE = """
SELECT event_type,
       (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 AS bucket_s,
       count(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS avg_value,
       max(value) AS max_value
FROM events
GROUP BY event_type, bucket_s
"""


@query("ts_resample_15m", oracle=_RESAMPLE_ORACLE)
def q_ts_resample_15m(spark, sf_dir):
    """Downsample the event stream to 15-minute buckets per type — the
    batch mirror of stream_tumbling_agg.  Bucket arithmetic is integer
    epoch division (no window function), one shuffle on (type, bucket):
    at 100 TB the partial agg collapses each map task to ~buckets rows.
    Bucketing is pure integer arithmetic (`div`, truncating like DuckDB's
    integer `//`) — no double round-trip, exact at any epoch magnitude."""
    (ev,) = _t(spark, sf_dir, "events")
    bucket = F.expr("(unix_seconds(ts) div 900) * 900")
    return ev.groupBy(
        "event_type", bucket.alias("bucket_s")
    ).agg(
        F.count("*").alias("cnt"),
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("value")).alias(
            "avg_value"
        ),
        F.max("value").alias("max_value"),
    )


_GAPFILL_ORACLE = """
WITH b AS (
  SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 AS bucket_s
  FROM events
), counts AS (
  SELECT event_type, bucket_s, count(*) AS cnt FROM b GROUP BY event_type, bucket_s
), spans AS (
  SELECT event_type, min(bucket_s) AS lo, max(bucket_s) AS hi FROM b GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(range(lo, hi + 900, 900)) AS bucket_s FROM spans
)
SELECT g.event_type, g.bucket_s, coalesce(c.cnt, 0) AS cnt
FROM grid g LEFT JOIN counts c
  ON g.event_type = c.event_type AND g.bucket_s = c.bucket_s
"""


@query("ts_gapfill_15m", oracle=_GAPFILL_ORACLE)
def q_ts_gapfill_15m(spark, sf_dir):
    """Dense 15-minute grid per event type with zero-filled empty buckets
    (monitoring/ML feature series want a value for EVERY interval).
    Plan: two partial aggs over one scan + an equi-join back on
    (type, bucket).  The grid size is bounded by wall-clock span / 900 —
    independent of row count, so the explode side stays tiny at 100 TB."""
    (ev,) = _t(spark, sf_dir, "events")
    bucket = F.expr("(unix_seconds(ts) div 900) * 900")
    b = ev.select("event_type", bucket.alias("bucket_s"))
    counts = b.groupBy("event_type", "bucket_s").agg(F.count("*").alias("cnt"))
    spans = b.groupBy("event_type").agg(
        F.min("bucket_s").alias("lo"), F.max("bucket_s").alias("hi")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(900))).alias("bucket_s"),
    )
    return grid.join(counts, ["event_type", "bucket_s"], "left").select(
        "event_type", "bucket_s", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# Stratified sampling

_STRAT_ORACLE = """
SELECT doc_id, lang,
       CAST(('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
         AS bucket
FROM documents
WHERE CAST(('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 20
"""


@query("sample_stratified", oracle=_STRAT_ORACLE)
def q_sample_stratified(spark, sf_dir):
    """Deterministic 20% per-language sample by salted content-key hash.
    Unlike df.sampleBy, membership is a pure function of doc_id: stable
    across runs/engines/cluster layouts, and the per-stratum rate is
    exact in expectation with no driver-side fraction map.  Pure narrow
    map — a filter fused into the scan at any scale."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    bucket = md5_lane(F.col("doc_id"), "strat:") % 100
    return docs.select("doc_id", "lang", bucket.alias("bucket")).filter(F.col("bucket") < 20)


# ---------------------------------------------------------------------------
# Passage-level dedup (CCNet/Dolma-style, between doc-level and shingle-level)

_PASSAGE_W = 15

_PASSAGE_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), chunks AS (
  SELECT doc_id,
         md5(array_to_string(w[(i-1)*{_PASSAGE_W}+1:i*{_PASSAGE_W}], ' ')) AS passage_hash
  FROM words, unnest(range(1, CAST(len(w) // {_PASSAGE_W} AS BIGINT) + 1)) AS t(i)
)
SELECT passage_hash,
       count(*) AS occurrences,
       count(DISTINCT doc_id) AS docs,
       min(doc_id) AS first_doc
FROM chunks
GROUP BY passage_hash
HAVING count(*) > 1
"""


@query("text_passage_dedup", oracle=_PASSAGE_ORACLE)
def q_text_passage_dedup(spark, sf_dir):
    """Duplicated 15-word passages across the corpus — the middle
    granularity between exact doc dedup and shingle near-dup (boilerplate
    headers/footers repeat at passage level while documents differ).
    Plan: one narrow explode (bounded: len/15 passages per doc) + one
    groupBy on the 32-hex hash — hashes, not passages, shuffle, so the
    exchange carries ~32 bytes/passage at 100 TB."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    # Single parse per row; docs shorter than one passage yield no chunks
    # (guard needed: sequence(0, -1) would count DOWN and emit bogus
    # negative slice indices — the oracle's range(1, 1) is just empty).
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("w")).filter(
        F.size("w") >= _PASSAGE_W
    )
    w = F.col("w")
    passages = words.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (F.size(w) / _PASSAGE_W).cast("int") - 1),
                lambda i: F.md5(F.array_join(F.slice(w, i * _PASSAGE_W + 1, _PASSAGE_W), " ")),
            )
        ).alias("passage_hash"),
    )
    return (
        passages.groupBy("passage_hash")
        .agg(
            F.count("*").alias("occurrences"),
            F.countDistinct("doc_id").alias("docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("occurrences") > 1)
    )


# ---------------------------------------------------------------------------
# Embedding norm profile

_NORM_SQL = """sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(embedding)+1),
  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), (x,y) -> x+y))"""

_NORM_ORACLE = f"""
WITH n AS (
  SELECT label, round({_NORM_SQL}, 6) AS nrm FROM embeddings
)
SELECT label, count(*) AS n,
       CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(nrm) AS avg_norm,
       min(nrm) AS min_norm, max(nrm) AS max_norm
FROM n GROUP BY label
"""


@query("emb_norm_stats", oracle=_NORM_ORACLE)
def q_emb_norm_stats(spark, sf_dir):
    """Per-label L2-norm profile — the standard embedding-health check
    before cosine ops (un-normalized or collapsed vectors show up here).
    Ordered-fold norm (functions/vectors.py) keeps IEEE parity with the
    oracle; one shuffle on label."""
    from pulsar_ingestion_spark.functions.vectors import norm

    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    nrm = F.round(norm(F.col("embedding")), 6)
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double") / F.count("nrm")).alias(
                "avg_norm"
            ),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf fit over the token distribution

_ZIPF_TOP = 200

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), cnts AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
), top AS (
  SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rnk
  FROM cnts ORDER BY cnt DESC, token ASC LIMIT {_ZIPF_TOP}
), pts AS (
  SELECT round(ln(rnk), 8) AS x, round(ln(cnt), 8) AS y FROM top
), m AS (
  SELECT count(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(20,8))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(20,8))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(20,8))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT n AS n_tokens,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM m
"""


@query("text_zipf_slope", oracle=_ZIPF_ORACLE)
def q_text_zipf_slope(spark, sf_dir):
    """Zipf power-law exponent of the corpus token distribution: slope of
    ln(freq) ~ ln(rank) over the top-200 tokens.  Natural text sits near
    -1; a far-off slope flags synthetic/templated/boilerplate corpora.
    Plan: token count (one shuffle) → TakeOrderedAndProject top-200 →
    distributed exact ranking (operators/ranking.py — no unpartitioned
    window) → one-row moment agg.  Every stage after the token count
    operates on ≤200 rows regardless of corpus size."""
    from pulsar_ingestion_spark.operators.ranking import global_row_number

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    cnts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    top = cnts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(_ZIPF_TOP)
    ranked, _total = global_row_number(
        top, [F.col("cnt").desc(), F.col("token").asc()], rn_col="rnk",
        bucket_col=F.col("cnt"), bucket_desc=True,
    )
    x = F.round(F.log(F.col("rnk")), 8)
    y = F.round(F.log(F.col("cnt")), 8)
    pts = ranked.select(x.alias("x"), y.alias("y"))
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(20,8)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(20,8)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(20,8)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(20,8)")).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return m.select(
        n.alias("n_tokens"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics

_DIM_ORACLE = """
WITH x AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), m AS (
  SELECT dim, count(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(v * v AS DECIMAL(18,8))) AS DOUBLE) AS s2
  FROM x GROUP BY dim
)
SELECT dim, n,
       round(s1 / n, 6) AS mean,
       round(s2 / n - (s1 / n) * (s1 / n), 6) AS variance
FROM m
"""


@query("emb_dim_stats", oracle=_DIM_ORACLE)
def q_emb_dim_stats(spark, sf_dir):
    """Per-dimension mean/variance across the embedding corpus — the
    collapsed-dimension / dead-unit check run before any ANN build.
    posexplode multiplies rows by dim (64), then the partial agg folds
    each map task to 64 combiner rows: one shuffle of O(dim) rows."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    x = emb.select(F.posexplode("embedding").alias("dim", "vf")).select(
        "dim", F.col("vf").cast("double").alias("v")
    )
    m = x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(18,8)")).cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(18,8)")).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return m.select(
        "dim",
        "n",
        F.round(s1 / n, 6).alias("mean"),
        F.round(s2 / n - (s1 / n) * (s1 / n), 6).alias("variance"),
    )


# ---------------------------------------------------------------------------
# Group mode (most frequent value)

_MODE_ORACLE = """
WITH c AS (
  SELECT l_returnflag, l_quantity, count(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, l_quantity
), r AS (
  SELECT l_returnflag, l_quantity, cnt,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY cnt DESC, l_quantity ASC) AS rn
  FROM c
)
SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_cnt
FROM r WHERE rn = 1
"""


@query("agg_mode", oracle=_MODE_ORACLE)
def q_agg_mode(spark, sf_dir):
    """Deterministic per-group mode (ties broken by smallest value).
    Two-level agg: (group, value) counts collapse map-side first, so the
    keep-best hash aggregate (r14: not a row_number partition sort) only
    sees distinct values per group."""
    (li,) = _t(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    return (
        c.groupBy("l_returnflag")
        .agg(best_struct(c, [("cnt", "desc"), ("l_quantity", "asc")]).alias("top"))
        .select(
            "l_returnflag",
            F.col("top.l_quantity").alias("mode_qty"),
            F.col("top.cnt").alias("mode_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order layout key (multi-dimensional clustering)

_Z_BITS = 16


def _zorder_sql(a: str, b: str, engine: str) -> str:
    """Bit-interleave expression for two 16-bit fields, generated as the
    SAME arithmetic for both engines (only shift syntax differs)."""
    terms = []
    for k in range(_Z_BITS):
        if engine == "spark":
            terms.append(f"(shiftleft(shiftright({a}, {k}) & 1, {2 * k + 1}))")
            terms.append(f"(shiftleft(shiftright({b}, {k}) & 1, {2 * k}))")
        else:
            terms.append(f"((({a} >> {k}) & 1) << {2 * k + 1})")
            terms.append(f"((({b} >> {k}) & 1) << {2 * k})")
    return " | ".join(terms)


_ZORDER_ORACLE = f"""
WITH k AS (
  SELECT event_id,
         CAST(user_id & 65535 AS BIGINT) AS ua,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // 60) & 65535 AS BIGINT) AS tb
  FROM events
)
SELECT event_id, ua, tb,
       {_zorder_sql('ua', 'tb', 'duckdb')} AS zval
FROM k
"""


@query("layout_zorder_key", oracle=_ZORDER_ORACLE)
def q_layout_zorder_key(spark, sf_dir):
    """Z-order (Morton) key over (user_id, minute-bucket) — the lakehouse
    layout trick that keeps range queries on EITHER dimension clustered
    after a single repartitionByRange(zval) + sortWithinPartitions write.
    The key itself is a pure narrow bit-interleave; this query emits it
    so the oracle pins the exact bit layout both engines compute."""
    (ev,) = _t(spark, sf_dir, "events")
    k = ev.select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(65535)).cast("bigint").alias("ua"),
        (F.unix_seconds(F.col("ts")) / 60)
        .cast("bigint")
        .bitwiseAND(F.lit(65535))
        .cast("bigint")
        .alias("tb"),
    )
    return k.select(
        "event_id", "ua", "tb", F.expr(_zorder_sql("ua", "tb", "spark")).alias("zval")
    )


# ---------------------------------------------------------------------------
# Salted replicate join (skewed fact × small-but-not-broadcastable dim)

_SALTED_JOIN_ORACLE = """
WITH dim AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS type_avg
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(e.value - d.type_avg, 4) AS deviation
FROM events e JOIN dim d ON e.event_type = d.event_type
"""

_JOIN_SALTS = 16


@query("join_salted_skew", oracle=_SALTED_JOIN_ORACLE)
def q_join_salted_skew(spark, sf_dir):
    """Join a per-key aggregate back to a HEAVILY skewed fact (5 distinct
    event types over every row) without broadcast: replicate the dim side
    across 16 salts (explode) and salt the fact side deterministically,
    so the join key becomes (event_type, salt) and each hot key spreads
    over 16 reducers.  Results are identical to the plain join (the
    oracle).  When the dim fits in memory broadcast is still preferred —
    this is the fallback plan for dim tables in the GB range; AQE's
    skew-join split handles moderate skew, salting handles the
    single-hot-key worst case it can't."""
    (ev,) = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("value")).alias(
            "type_avg"
        )
    )
    dim_rep = dim.select(
        "event_type",
        "type_avg",
        F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1))).alias("salt"),
    )
    fact = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(_JOIN_SALTS)))
    return fact.join(dim_rep, ["event_type", "salt"]).select(
        "event_id",
        "event_type",
        F.round(F.col("value") - F.col("type_avg"), 4).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# Multi-resolution time rollup (continuous-aggregate ladder)

_MULTIRES_ORACLE = """
WITH b AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_b,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600  AS hour_b,
         CAST(floor(epoch(ts)) AS BIGINT) // 900   AS q_b,
         value
  FROM events
)
SELECT coalesce(day_b, -1) AS day_b,
       coalesce(hour_b, -1) AS hour_b,
       coalesce(q_b, -1) AS q_b,
       count(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM b
GROUP BY ROLLUP (day_b, hour_b, q_b)
"""


@query("ts_rollup_multires", oracle=_MULTIRES_ORACLE)
def q_ts_rollup_multires(spark, sf_dir):
    """Day → hour → 15-minute rollup ladder in ONE pass (the batch form
    of a continuous-aggregate/hypertable rollup).  GROUP BY ROLLUP costs
    a single shuffle — Spark expands grouping sets map-side, and each
    finer level's partials feed the coarser ones.  Buckets are integer
    epoch divisions so every engine agrees without timezone coupling."""
    (ev,) = _t(spark, sf_dir, "events")
    b = ev.select(
        F.expr("unix_seconds(ts) div 86400").alias("day_b"),
        F.expr("unix_seconds(ts) div 3600").alias("hour_b"),
        F.expr("unix_seconds(ts) div 900").alias("q_b"),
        "value",
    )
    return (
        b.rollup("day_b", "hour_b", "q_b")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("day_b"), F.lit(-1)).alias("day_b"),
            F.coalesce(F.col("hour_b"), F.lit(-1)).alias("hour_b"),
            F.coalesce(F.col("q_b"), F.lit(-1)).alias("q_b"),
            "cnt",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Distribution metrics: entropy + train/val drift

_ENTROPY_ORACLE = """
WITH c AS (
  SELECT event_type, user_id % 8 AS cohort, count(*) AS cnt
  FROM events GROUP BY event_type, user_id % 8
), t AS (
  SELECT cohort, SUM(cnt) AS tot FROM c GROUP BY cohort
), p AS (
  SELECT c.cohort, round(ln(CAST(c.cnt AS DOUBLE) / t.tot)
                         * (CAST(c.cnt AS DOUBLE) / t.tot), 8) AS term
  FROM c JOIN t ON c.cohort = t.cohort
)
SELECT cohort,
       round(-CAST(SUM(CAST(term AS DECIMAL(18,8))) AS DOUBLE), 6) AS entropy_nats
FROM p GROUP BY cohort
"""


@query("agg_entropy", oracle=_ENTROPY_ORACLE)
def q_agg_entropy(spark, sf_dir):
    """Shannon entropy of the event-type distribution per cohort — the
    standard diversity/imbalance signal for a label or source column.
    Two chained aggs on the same key prefix (the second reuses the
    first's partitioning); per-term doubles are rounded then decimal-
    summed so the entropy is order-independent."""
    (ev,) = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type", (F.col("user_id") % 8).alias("cohort")).agg(
        F.count("*").alias("cnt")
    )
    t = c.groupBy("cohort").agg(F.sum("cnt").alias("tot"))
    p = c.join(t, "cohort").select(
        "cohort",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("tot"))
            * (F.col("cnt").cast("double") / F.col("tot")),
            8,
        ).alias("term"),
    )
    return p.groupBy("cohort").agg(
        F.round(-F.sum(F.col("term").cast("decimal(18,8)")).cast("double"), 6).alias(
            "entropy_nats"
        )
    )


# Jensen-Shannon divergence between the train and validation token
# distributions — the drift check run between corpus versions before a
# mixture decision.  Splits reuse corpus_split_train's hash assignment.
_JS_ORACLE = """
WITH split AS (
  SELECT CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
              THEN 'train' ELSE 'heldout' END AS split,
         text
  FROM documents
), tok AS (
  SELECT split, unnest(string_split(text, ' ')) AS token FROM split
), c AS (
  SELECT split, token, count(*) AS cnt FROM tok GROUP BY split, token
), tot AS (
  SELECT split, SUM(cnt) AS tot FROM c GROUP BY split
), p AS (
  SELECT c.token,
         CAST(SUM(CASE WHEN c.split = 'train' THEN CAST(c.cnt AS DOUBLE) / tot.tot ELSE 0 END) AS DOUBLE) AS pa,
         CAST(SUM(CASE WHEN c.split = 'heldout' THEN CAST(c.cnt AS DOUBLE) / tot.tot ELSE 0 END) AS DOUBLE) AS pb
  FROM c JOIN tot ON c.split = tot.split
  GROUP BY c.token
), terms AS (
  SELECT round(
           CASE WHEN pa > 0 THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END
           + CASE WHEN pb > 0 THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END,
         10) AS term
  FROM p
)
SELECT round(CAST(SUM(CAST(term AS DECIMAL(18,10))) AS DOUBLE), 6) AS js_divergence,
       count(*) AS vocab
FROM terms
"""


@query("text_js_divergence", oracle=_JS_ORACLE)
def q_text_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between train and held-out token
    distributions (drift/decontamination sanity between corpus slices).
    Plan: token counts per split (one shuffle), totals broadcast back,
    full token-wise merge via groupBy token (vocabulary-sized), one-row
    decimal-summed result.  Deterministic: per-token terms are rounded
    before the order-independent sum."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    bucket = md5_lane(F.col("doc_id")) % 100
    split = docs.select(
        F.when(bucket < 80, "train").otherwise("heldout").alias("split"), "text"
    )
    tok = split.select("split", F.explode(F.split(F.col("text"), " ")).alias("token"))
    c = tok.groupBy("split", "token").agg(F.count("*").alias("cnt"))
    tot = c.groupBy("split").agg(F.sum("cnt").alias("tot"))
    p = (
        c.join(F.broadcast(tot), "split")
        .groupBy("token")
        .agg(
            F.sum(
                F.when(
                    F.col("split") == "train", F.col("cnt").cast("double") / F.col("tot")
                ).otherwise(F.lit(0.0))
            )
            .cast("double")
            .alias("pa"),
            F.sum(
                F.when(
                    F.col("split") == "heldout", F.col("cnt").cast("double") / F.col("tot")
                ).otherwise(F.lit(0.0))
            )
            .cast("double")
            .alias("pb"),
        )
    )
    pa, pb = F.col("pa"), F.col("pb")
    mid = (pa + pb) / 2
    term = F.round(
        F.when(pa > 0, 0.5 * pa * F.log(pa / mid)).otherwise(F.lit(0.0))
        + F.when(pb > 0, 0.5 * pb * F.log(pb / mid)).otherwise(F.lit(0.0)),
        10,
    )
    return p.select(term.alias("term")).agg(
        F.round(F.sum(F.col("term").cast("decimal(18,10)")).cast("double"), 6).alias(
            "js_divergence"
        ),
        F.count("*").alias("vocab"),
    )


# ---------------------------------------------------------------------------
# Top principal component via power iteration (2 unrolled steps)

_PCA_ITERS = 2

_PCA_ORACLE = """
WITH x AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS xv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), v0 AS (
  SELECT i - 1 AS dim, 0.125 AS val FROM unnest(range(1, 65)) AS t(i)
), v0arr AS (
  SELECT list(val ORDER BY dim) AS v FROM v0
), u1 AS (
  SELECT e.vec_id,
         round(list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
           i -> CAST(e.embedding[i] AS DOUBLE) * a.v[i])), (p,q) -> p+q), 10) AS u
  FROM embeddings e CROSS JOIN v0arr a
), w1 AS (
  SELECT x.dim, CAST(SUM(CAST(x.xv * u1.u AS DECIMAL(28,12))) AS DOUBLE) AS w
  FROM x JOIN u1 ON x.vec_id = u1.vec_id GROUP BY x.dim
), n1 AS (
  SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w1
), v1 AS (
  SELECT dim, round(w / nrm, 10) AS val FROM w1 CROSS JOIN n1
), v1arr AS (
  SELECT list(val ORDER BY dim) AS v FROM v1
), u2 AS (
  SELECT e.vec_id,
         round(list_reduce(list_prepend(0.0, list_transform(range(1, len(e.embedding)+1),
           i -> CAST(e.embedding[i] AS DOUBLE) * a.v[i])), (p,q) -> p+q), 10) AS u
  FROM embeddings e CROSS JOIN v1arr a
), w2 AS (
  SELECT x.dim, CAST(SUM(CAST(x.xv * u2.u AS DECIMAL(28,12))) AS DOUBLE) AS w
  FROM x JOIN u2 ON x.vec_id = u2.vec_id GROUP BY x.dim
), n2 AS (
  SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w2
)
SELECT dim, round(w / nrm, 8) AS component, round(nrm, 4) AS eigenvalue_est
FROM w2 CROSS JOIN n2
"""


def _pca_step(emb, varr):
    """One power-iteration step entirely in-plan: u = X·v (ordered double
    fold, narrow), w = Xᵀu (posexplode feeding a map-side-collapsing
    decimal agg over 64 dims), then normalize via a one-row agg cross
    join.  Returns the 64-row (dim, w) frame and the one-row norm."""
    x2 = emb.crossJoin(F.broadcast(varr))
    u = F.round(dot(F.col("embedding"), F.col("v")), 10)
    exploded = x2.select(u.alias("u"), F.posexplode("embedding").alias("dim", "xf"))
    w = exploded.groupBy("dim").agg(
        F.sum((F.col("xf").cast("double") * F.col("u")).cast("decimal(28,12)"))
        .cast("double")
        .alias("w")
    )
    nrm = w.agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast("decimal(38,12)")).cast("double")).alias(
            "nrm"
        )
    )
    return w, nrm


@query("emb_pca_power", oracle=_PCA_ORACLE)
def q_emb_pca_power(spark, sf_dir):
    """Top principal component of the (uncentered) embedding matrix via
    two unrolled power-iteration steps — iterative linear algebra as a
    pure DataFrame plan, no driver collect, bit-identical to the oracle's
    unrolled CTE chain (ordered folds + exact decimal reductions, values
    rounded after every step).

    Scale shape per step: the X·v pass is NARROW (v rides along as a
    broadcast array); the Xᵀu pass posexplodes to (dim, x·u) and the
    partial agg collapses every map task to 64 rows before the shuffle.
    Total exchanged per step ≈ 64 × #tasks rows — independent of corpus
    size.  More steps = chain the same plan; for production PCA with
    centering, subtract the emb_dim_stats means in the same pass."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    dim = 64
    varr = spark.range(1).select(
        F.array([F.lit(0.125)] * dim).alias("v")
    )
    for it in range(_PCA_ITERS):
        w, nrm = _pca_step(emb, varr)
        if it < _PCA_ITERS - 1:
            vnext = w.crossJoin(F.broadcast(nrm)).select(
                "dim", F.round(F.col("w") / F.col("nrm"), 10).alias("val")
            )
            varr = vnext.agg(
                F.array_sort(F.collect_list(F.struct("dim", "val"))).alias("s")
            ).select(F.transform(F.col("s"), lambda t: t.getField("val")).alias("v"))
    return w.crossJoin(F.broadcast(nrm)).select(
        "dim",
        F.round(F.col("w") / F.col("nrm"), 8).alias("component"),
        F.round(F.col("nrm"), 4).alias("eigenvalue_est"),
    )


# ---------------------------------------------------------------------------
# ML feature engineering + robust outliers + drift detection on the series

_LAG_FEATURES_ORACLE = """
WITH buckets AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 AS bucket_s,
         count(*) AS cnt
  FROM events GROUP BY event_type, bucket_s
)
SELECT event_type, bucket_s, cnt,
       lag(cnt, 1) OVER w AS lag_1,
       lag(cnt, 4) OVER w AS lag_4,
       round(CAST(SUM(CAST(cnt AS DECIMAL(18,4))) OVER (PARTITION BY event_type
             ORDER BY bucket_s ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / least(CAST(row_number() OVER w AS BIGINT), 4), 4) AS roll_mean_4
FROM buckets
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_s)
"""


@query("ts_lag_features", oracle=_LAG_FEATURES_ORACLE)
def q_ts_lag_features(spark, sf_dir):
    """Supervised-learning feature frame from the event series: per-type
    15-minute counts with lag-1, lag-4, and a trailing 4-bucket mean —
    the standard forecasting feature block.  One shuffle builds the
    buckets; one type-key window pass derives every feature (the rolling
    mean sums DECIMAL so both engines agree bit-for-bit)."""
    (ev,) = _t(spark, sf_dir, "events")
    bucket = F.expr("(unix_seconds(ts) div 900) * 900")
    buckets = ev.groupBy(
        "event_type", bucket.alias("bucket_s")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("bucket_s")
    w4 = w.rowsBetween(-3, Window.currentRow)
    return buckets.select(
        "event_type", "bucket_s", "cnt",
        F.lag("cnt", 1).over(w).alias("lag_1"),
        F.lag("cnt", 4).over(w).alias("lag_4"),
        F.round(
            F.sum(F.col("cnt").cast("decimal(18,4)")).over(w4).cast("double")
            / F.least(F.row_number().over(w).cast("bigint"), F.lit(4)),
            4,
        ).alias("roll_mean_4"),
    )


_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, CAST(quantile_cont(value, 0.5) AS DOUBLE) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.event_id, e.value, m.med,
         round(abs(e.value - m.med), 6) AS abs_dev
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, CAST(quantile_cont(abs_dev, 0.5) AS DOUBLE) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       round(any_value(d.med), 4) AS median_value,
       round(any_value(m.mad), 4) AS mad_value,
       CAST(count(CASE WHEN round(abs(d.value - d.med), 6) > round(3 * 1.4826 * m.mad, 6)
                       THEN 1 END) AS BIGINT) AS n_outliers,
       count(*) AS n
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@query("ts_outlier_mad", oracle=_MAD_ORACLE)
def q_ts_outlier_mad(spark, sf_dir):
    """Robust (median/MAD) outlier detection per event type — the
    z-score variant that survives heavy tails.  Two percentile aggs
    chained through a broadcast-sized per-type stats table; the full
    stream is scanned twice but never reshuffled on a data-sized key
    (both joins replicate the ≤|types| stats side).  Deviations are
    rounded before thresholding so membership is engine-stable."""
    (ev,) = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("CAST(percentile(value, 0.5) AS DOUBLE)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", "value", "med",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("abs_dev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("CAST(percentile(abs_dev, 0.5) AS DOUBLE)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.round(F.any_value("med"), 4).alias("median_value"),
        F.round(F.any_value("mad"), 4).alias("mad_value"),
        F.count(
            F.when(
                F.round(F.abs(F.col("value") - F.col("med")), 6)
                > F.round(3 * 1.4826 * F.col("mad"), 6),
                1,
            )
        ).cast("bigint").alias("n_outliers"),
        F.count("*").alias("n"),
    )


_CUSUM_ORACLE = """
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu
  FROM events GROUP BY event_type
), walk AS (
  SELECT e.event_type,
         SUM(CAST(round(e.value - s.mu, 6) AS DECIMAL(18,6)))
           OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
                 ROWS UNBOUNDED PRECEDING) AS cusum
  FROM events e JOIN stats s ON e.event_type = s.event_type
)
SELECT event_type,
       CAST(max(abs(cusum)) AS DOUBLE) AS max_abs_cusum,
       CAST(count(CASE WHEN abs(cusum) > 500 THEN 1 END) AS BIGINT) AS n_over_500,
       count(*) AS n
FROM walk GROUP BY event_type
"""


@query("ts_cusum_drift", oracle=_CUSUM_ORACLE)
def q_ts_cusum_drift(spark, sf_dir):
    """CUSUM drift detector: running sum of mean-centered values per
    type; a large |cusum| excursion marks a level shift long before a
    windowed mean notices.  The running sum accumulates DECIMAL on both
    engines (float running sums are order-sensitive), mean joins in via
    a broadcast-sized stats table, and the walk is one type-key window
    pass."""
    (ev,) = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("mu")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.sum(
            F.round(F.col("value") - F.col("mu"), 6).cast("decimal(18,6)")
        ).over(w).alias("cusum"),
    )
    # UNROUNDED: cusum is an exact DECIMAL(18,6) on both engines, and a
    # 6-decimal value rounded to 4 lands on an exact half-way point ~1% of
    # the time, where the engines' round() implementations disagree — the
    # exact decimal cast to double is already bit-identical.
    return walk.groupBy("event_type").agg(
        F.max(F.abs("cusum")).cast("double").alias("max_abs_cusum"),
        F.count(F.when(F.abs("cusum") > 500, 1)).cast("bigint").alias("n_over_500"),
        F.count("*").alias("n"),
    )


_SEASONAL_ORACLE = """
SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
       count(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_value
FROM events
GROUP BY event_type, hod
"""


@query("ts_seasonal_profile", oracle=_SEASONAL_ORACLE)
def q_ts_seasonal_profile(spark, sf_dir):
    """Hour-of-day seasonality profile per event type — the baseline an
    anomaly detector subtracts before looking at residuals.  One
    partial-agg shuffle on the (type, hour) key (≤ 24×|types| rows);
    avg left UNROUNDED: exact decimal sum over exact count divides to
    the identical IEEE double on both engines (SCALE.md §6d)."""
    (ev,) = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hod")
    ).agg(
        F.count("*").alias("cnt"),
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("*"))
        .alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Round 5b: lag-k autocorrelation — the seasonality/persistence diagnostic
# that rounds out the TS ML feature family (lag features, MAD outliers,
# CUSUM, seasonal profile are round 4 above).
# ---------------------------------------------------------------------------

_TS_AUTOCORR_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS h,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), ks AS (
  SELECT unnest([1, 2, 3]) AS k
), pairs AS (
  SELECT cur.event_type, ks.k,
         CAST(prev.cnt AS BIGINT) AS x, CAST(cur.cnt AS BIGINT) AS y
  FROM hourly cur
  CROSS JOIN ks
  JOIN hourly prev ON prev.event_type = cur.event_type AND prev.h = cur.h - ks.k
), sums AS (
  SELECT event_type, k,
         count(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sx2, CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM pairs GROUP BY event_type, k
)
SELECT event_type, k, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS acf
FROM sums
"""


@query("ts_autocorr", oracle=_TS_AUTOCORR_ORACLE)
def q_ts_autocorr(spark, sf_dir):
    """Lag-k autocorrelation (k = 1..3) of each event type's hourly
    volume.  The series is the post-aggregate (type, hour) rollup — one
    fact shuffle — and lag alignment is an equi-join on (type, h-k)
    rather than a window, so calendar gaps pair nothing instead of
    silently pairing non-adjacent hours.  The correlation is computed
    from integer-exact moment sums (counts are BIGINT, so every partial
    sum is exact and order-independent) with the Pearson formula applied
    once in double on both engines — no float accumulation drift, no
    corr() implementation skew.  Series and output are model-sized at
    any corpus scale."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    hourly = (
        ev.groupBy(
            "event_type",
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / F.lit(3600))
            .cast("bigint")
            .alias("h"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    ks = spark.range(1, 4).select(F.col("id").cast("bigint").alias("k"))
    cur = hourly.select(
        F.col("event_type").alias("c_type"), F.col("h").alias("c_h"),
        F.col("cnt").cast("bigint").alias("y"),
    ).crossJoin(F.broadcast(ks))
    prev = hourly.select(
        F.col("event_type").alias("p_type"), F.col("h").alias("p_h"),
        F.col("cnt").cast("bigint").alias("x"),
    )
    pairs = cur.join(
        prev,
        (F.col("p_type") == F.col("c_type")) & (F.col("p_h") == F.col("c_h") - F.col("k")),
    )
    sums = pairs.groupBy(F.col("c_type").alias("event_type"), "k").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return sums.select(
        "event_type", "k", "n",
        F.round(
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / (
                F.sqrt(d("n") * d("sx2") - d("sx") * d("sx"))
                * F.sqrt(d("n") * d("sy2") - d("sy") * d("sy"))
            ),
            6,
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Round-5c time-series II: linear gap interpolation and the Theil–Sen
# robust trend estimator.
# ---------------------------------------------------------------------------

_INTERP_ORACLE = """
WITH obs AS (
  SELECT event_type, epoch_us(ts) // 900000000 AS bucket_s,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS val
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT event_type, min(bucket_s) AS lo, max(bucket_s) AS hi FROM obs GROUP BY 1
), grid AS (
  SELECT s.event_type, g.b AS bucket_s
  FROM spans s, LATERAL (SELECT unnest(range(s.lo, s.hi + 1)) AS b) g
), joined AS (
  SELECT g.event_type, g.bucket_s, o.val,
         last_value(o.val IGNORE NULLS) OVER wp AS prev_val,
         last_value(CASE WHEN o.val IS NOT NULL THEN g.bucket_s END IGNORE NULLS)
           OVER wp AS prev_t,
         first_value(o.val IGNORE NULLS) OVER wf AS next_val,
         first_value(CASE WHEN o.val IS NOT NULL THEN g.bucket_s END IGNORE NULLS)
           OVER wf AS next_t
  FROM grid g LEFT JOIN obs o
    ON o.event_type = g.event_type AND o.bucket_s = g.bucket_s
  WINDOW wp AS (PARTITION BY g.event_type ORDER BY g.bucket_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY g.event_type ORDER BY g.bucket_s
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, bucket_s,
       CASE WHEN val IS NOT NULL THEN val
            ELSE prev_val + (next_val - prev_val)
                 * (CAST(bucket_s - prev_t AS DOUBLE) / (next_t - prev_t))
       END AS val,
       (val IS NULL) AS interpolated
FROM joined
"""


@query("ts_interp_linear", oracle=_INTERP_ORACLE)
def q_ts_interp_linear(spark, sf_dir):
    """Linear interpolation of missing 15-minute buckets: each empty grid
    cell gets prev + (next-prev)·(t-t1)/(t2-t1) between its nearest
    observed neighbors — the reconstruction monitoring dashboards and
    feature pipelines want when zero-fill (ts_gapfill_15m) would bias
    the series.  Grid endpoints are observed by construction (span =
    min..max observed), so every gap has both neighbors.  Two ordered
    windows per type (forward + backward IGNORE NULLS) on the
    grid-sized relation; the arithmetic is the same single-IEEE-op
    expression on both engines, so no rounding is needed anywhere."""
    (ev,) = _t(spark, sf_dir, "events")
    obs = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 900000000").alias("bucket_s"),
            "value",
        )
        .groupBy("event_type", "bucket_s")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("*")
            ).alias("val")
        )
    )
    spans = obs.groupBy("event_type").agg(
        F.min("bucket_s").alias("lo"), F.max("bucket_s").alias("hi")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(1))).alias("bucket_s"),
    )
    j = grid.join(obs, ["event_type", "bucket_s"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("bucket_s")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    t_if_obs = F.when(F.col("val").isNotNull(), F.col("bucket_s"))
    withn = j.select(
        "event_type", "bucket_s", "val",
        F.last("val", ignorenulls=True).over(wp).alias("prev_val"),
        F.last(t_if_obs, ignorenulls=True).over(wp).alias("prev_t"),
        F.first("val", ignorenulls=True).over(wf).alias("next_val"),
        F.first(t_if_obs, ignorenulls=True).over(wf).alias("next_t"),
    )
    interp = F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * (
        (F.col("bucket_s") - F.col("prev_t")).cast("double")
        / (F.col("next_t") - F.col("prev_t"))
    )
    return withn.select(
        "event_type", "bucket_s",
        F.when(F.col("val").isNotNull(), F.col("val")).otherwise(interp).alias("val"),
        F.col("val").isNull().alias("interpolated"),
    )


_THEILSEN_ORACLE = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day_x,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS day_y
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         (b.day_y - a.day_y) / (b.day_x - a.day_x) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day_x < b.day_x
), ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM pairs
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(slope AS DECIMAL(28,15))) FILTER (
              WHERE rn IN ((n + 1) // 2, (n + 2) // 2)) AS DOUBLE)
         / count(*) FILTER (WHERE rn IN ((n + 1) // 2, (n + 2) // 2))
         AS theil_sen_slope
FROM ranked GROUP BY event_type
"""


@query("ts_theil_sen", oracle=_THEILSEN_ORACLE)
def q_ts_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend per event type: the MEDIAN of all pairwise
    slopes of the daily-average series — insensitive to outliers where
    least-squares (agg_regr_slope) is not.  The median is computed
    explicitly (middle one or two ranks, decimal-averaged) instead of a
    percentile builtin, so both engines pick identical elements.  Pair
    generation is per-type over the DAILY rollup — O(days²) per group,
    never O(rows²); for year-scale series the standard fix is slopes
    over a bounded random pair sample, same plan shape.  One shuffle to
    daily, one type-local self-join, one window."""
    (ev,) = _t(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day_x"),
        "value",
    ).groupBy("event_type", "day_x").agg(
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("*"))
        .alias("day_y")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day_x") < F.col("b.day_x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.day_y") - F.col("a.day_y")) / (F.col("b.day_x") - F.col("a.day_x")))
        .alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    wn = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type", "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    mid = (F.col("rn") == F.expr("(n + 1) div 2")) | (
        F.col("rn") == F.expr("(n + 2) div 2")
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        (
            F.sum(F.when(mid, F.col("slope").cast("decimal(28,15)"))).cast("double")
            / F.count(F.when(mid, F.lit(1)))
        ).alias("theil_sen_slope"),
    )


_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS day_sum
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, day,
         SUM(CAST(day_sum AS DECIMAL(18,4))) OVER w AS cum_v
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), dd AS (
  SELECT event_type, day,
         CAST(max(cum_v) OVER w2 - cum_v AS DOUBLE) AS drawdown
  FROM cum
  WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(max(drawdown) AS DOUBLE) AS max_drawdown,
       CAST(count(*) AS BIGINT) AS n_days
FROM dd GROUP BY event_type
"""


@query("win_drawdown", oracle=_DRAWDOWN_ORACLE)
def q_win_drawdown(spark, sf_dir):
    """Maximum drawdown of each type's cumulative daily value series:
    max over t of (running-peak − cumulative) — the risk metric every
    monitoring/finance dashboard wants next to the cumsum.  Cumulative
    sums stay in DECIMAL so the running peak is exact on both engines;
    the drawdown itself is one decimal subtraction cast to double.  Two
    ordered windows over the day-rollup relation (O(days) per type,
    independent of event count)."""
    (ev,) = _t(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "value",
    ).groupBy("event_type", "day").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("day_sum")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "event_type", "day",
        F.sum(F.col("day_sum").cast("decimal(18,4)")).over(w).alias("cum_v"),
    )
    dd = cum.select(
        "event_type",
        (F.max("cum_v").over(w) - F.col("cum_v")).cast("double").alias("drawdown"),
    )
    return dd.groupBy("event_type").agg(
        F.max("drawdown").cast("double").alias("max_drawdown"),
        F.count("*").cast("bigint").alias("n_days"),
    )


_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
), pre AS (
  SELECT event_type, day, y,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY event_type) AS n,
         CAST(SUM(CAST(y AS DECIMAL(18,4))) OVER w AS DOUBLE) AS cum_y,
         CAST(SUM(CAST(y AS DECIMAL(18,4))) OVER (PARTITION BY event_type) AS DOUBLE)
           AS tot_y
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), scored AS (
  SELECT event_type, day, i, n,
         abs(cum_y / i - (tot_y - cum_y) / (n - i)) AS shift
  FROM pre WHERE i < n
), best AS (
  SELECT event_type, day, shift,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY shift DESC, day) AS rnk
  FROM scored
)
SELECT event_type, day AS split_day, CAST(shift AS DOUBLE) AS mean_shift
FROM best WHERE rnk = 1
"""


@query("ts_changepoint_mean_shift", oracle=_CHANGEPOINT_ORACLE)
def q_ts_changepoint_mean_shift(spark, sf_dir):
    """Single change-point detection per series (binary-segmentation
    step 1): the split day maximizing |mean(left) − mean(right)| of the
    daily totals.  Prefix sums make every candidate split O(1) — one
    ordered window computes all n−1 scores in one pass, no per-split
    rescan (the same trick CUSUM uses; full binary segmentation recurses
    on the winning halves).  Means are quotients of decimal-exact sums,
    so the argmax compares bitwise-identical doubles; ties break on the
    earlier day."""
    (ev,) = _t(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "value",
    ).groupBy("event_type", "day").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type", "day",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias("i"),
        F.count("*").over(wt).alias("n"),
        F.sum(F.col("y").cast("decimal(18,4)")).over(w).cast("double").alias("cum_y"),
        F.sum(F.col("y").cast("decimal(18,4)")).over(wt).cast("double").alias("tot_y"),
    )
    scored = pre.filter(F.col("i") < F.col("n")).select(
        "event_type", "day",
        F.abs(
            F.col("cum_y") / F.col("i")
            - (F.col("tot_y") - F.col("cum_y")) / (F.col("n") - F.col("i"))
        ).alias("shift"),
    )
    # a hash aggregate, not a row_number sort (r14)
    return (
        scored.groupBy("event_type")
        .agg(best_struct(scored, [("shift", "desc"), ("day", "asc")]).alias("top"))
        .select("event_type", F.col("top.day").alias("split_day"),
                F.col("top.shift").cast("double").alias("mean_shift"))
    )


_ROLLMED_ORACLE = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       round(quantile_cont(y, 0.5) OVER w, 4) AS med7,
       CAST(count(*) OVER w AS BIGINT) AS n_window
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@query("ts_rolling_median", oracle=_ROLLMED_ORACLE)
def q_ts_rolling_median(spark, sf_dir):
    """Trailing-7-day rolling MEDIAN of the daily totals — the robust
    smoother monitoring dashboards overlay when means are outlier-driven
    (complements ts_ewma's mean smoothing and ts_outlier_mad's robust
    residuals).  One ordered window per type over the day rollup;
    percentile-in-window keeps the per-frame state O(frame), and the
    4-dp rounding absorbs the engines' interpolation ULPs
    (agg_percentile precedent)."""
    (ev,) = _t(spark, sf_dir, "events")
    daily = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "value",
    ).groupBy("event_type", "day").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "event_type", "day",
        F.round(F.expr("percentile(y, 0.5)").over(w), 4).alias("med7"),
        F.count("*").over(w).cast("bigint").alias("n_window"),
    )


# ---------------------------------------------------------------------------
# Round 6: winsorized mean — the robust-location twin of ts_outlier_mad's
# robust-scale.  Bounds are exact interpolated percentiles rounded to 4dp
# on BOTH engines before clamping (agg_percentile's ULP discipline), so
# the clamp and the DECIMAL mean are bit-identical.

_WINSOR_ORACLE = """
WITH b AS (
  SELECT o_orderpriority,
         round(CAST(quantile_cont(o_totalprice, 0.05) AS DOUBLE), 4) AS lo,
         round(CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE), 4) AS hi
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       count(*) AS n,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*)
         AS mean_raw,
       CAST(SUM(CAST(least(greatest(o.o_totalprice, b.lo), b.hi)
                     AS DECIMAL(18,4))) AS DOUBLE) / count(*)
         AS mean_winsorized,
       CAST(SUM(CASE WHEN o.o_totalprice < b.lo OR o.o_totalprice > b.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
FROM orders o JOIN b ON b.o_orderpriority = o.o_orderpriority
GROUP BY o.o_orderpriority
"""


@query("agg_winsorized_mean", oracle=_WINSOR_ORACLE)
def q_agg_winsorized_mean(spark, sf_dir):
    """Winsorized mean per order priority: clamp each value into its
    group's [p05, p95] band, then take the decimal-exact mean — the
    robust location estimate a metrics platform reports when a handful
    of whales would otherwise dominate (trimming drops information;
    winsorizing keeps the row with a bounded contribution).  Plan: one
    percentile aggregate builds the GROUP-sized bounds table (broadcast
    join back), one clamped decimal aggregate — two passes, both
    map-side combining.  At 100 TB the bounds pass switches to
    approx_percentile with the same clamp (documented trade, same
    shape); parity holds because bounds round to 4dp on both engines
    before clamping."""
    (o,) = _t(spark, sf_dir, "orders")
    b = o.groupBy(F.col("o_orderpriority").alias("bp")).agg(
        F.round(F.expr("percentile(o_totalprice, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("hi"),
    )
    j = o.join(F.broadcast(b), o["o_orderpriority"] == b["bp"])
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
         / F.count("*")).alias("mean_raw"),
        (F.sum(clamped.cast("decimal(18,4)")).cast("double")
         / F.count("*")).alias("mean_winsorized"),
        F.sum(
            F.when(
                (F.col("o_totalprice") < F.col("lo"))
                | (F.col("o_totalprice") > F.col("hi")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_clamped"),
    )


# ---------------------------------------------------------------------------
# Holt's linear (double-exponential) smoothing per user (round 8).

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3

_HOLT_ORACLE = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, CAST(value AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), rec AS (
  SELECT user_id, pos, n, value AS l, CAST(0 AS DOUBLE) AS b
  FROM seq WHERE pos = 1
  UNION ALL
  SELECT s.user_id, s.pos, s.n,
         {_HOLT_ALPHA} * s.value + {1 - _HOLT_ALPHA} * (r.l + r.b) AS l,
         {_HOLT_BETA} * (({_HOLT_ALPHA} * s.value
                          + {1 - _HOLT_ALPHA} * (r.l + r.b)) - r.l)
           + {1 - _HOLT_BETA} * r.b AS b
  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.pos = r.pos + 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       round(l, 6) AS level, round(b, 6) AS trend,
       round(l + 3 * b, 6) AS forecast_3
FROM rec WHERE pos = n
"""


@query("ts_holt_smooth", oracle=_HOLT_ORACLE)
def q_ts_holt_smooth(spark, sf_dir):
    """Holt's linear (level+trend double-exponential) smoother per user
    — the trend-aware sibling of ts_ewma: lₜ = αxₜ + (1−α)(lₜ₋₁+bₜ₋₁),
    bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, seeded l₁=x₁, b₁=0; reports the final
    state and a 3-step forecast l+3b.

    The coupled recursion folds a 2-field struct accumulator through
    the time-ordered value sequence with F.aggregate; the oracle is a
    per-user recursive CTE stepping the same two equations (DuckDB's
    list_reduce is unusable for coupled struct folds: it updates the
    accumulator struct FIELD-BY-FIELD in place, so the second field's
    expression observes the already-updated first field — measured, not
    assumed).  Identical IEEE operation order either way, so doubles
    match bitwise.  One
    shuffle (groupBy user); sequences are user-session-sized.  The
    streaming twin is the same fold as applyInPandasWithState
    (streaming/stateful.py), exactly like ts_ewma's contract."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("seq")
    )
    vals = F.col("seq").getField("value")
    a, b1 = _HOLT_ALPHA, _HOLT_BETA

    def merge(acc, x):
        new_l = a * x + (1 - a) * (acc.getField("l") + acc.getField("b"))
        new_b = (
            b1 * ((a * x + (1 - a) * (acc.getField("l") + acc.getField("b")))
                  - acc.getField("l"))
            + (1 - b1) * acc.getField("b")
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    st = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.struct(
            F.element_at(vals, 1).cast("double").alias("l"),
            F.lit(0.0).alias("b"),
        ),
        merge,
    )
    return seq.select(
        "user_id",
        F.size("seq").cast("bigint").alias("n_events"),
        F.round(st.getField("l"), 6).alias("level"),
        F.round(st.getField("b"), 6).alias("trend"),
        F.round(st.getField("l") + 3 * st.getField("b"), 6).alias("forecast_3"),
    )


# ---------------------------------------------------------------------------
# Round 8: deterministic Poisson-bootstrap confidence interval.

_BOOT_B = 32

_BOOT_ORACLE = f"""
WITH weighted AS (
  SELECT event_type, b.b AS b,
         CASE
           WHEN CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                        b.b + 1, 1)) AS BIGINT) < 6 THEN 0
           WHEN CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                        b.b + 1, 1)) AS BIGINT) < 12 THEN 1
           WHEN CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)),
                                        b.b + 1, 1)) AS BIGINT) < 15 THEN 2
           ELSE 3
         END AS w,
         CAST(value AS DECIMAL(18,4)) AS x
  FROM events, (SELECT unnest(range(0, {_BOOT_B})) AS b) b
), reps AS (
  SELECT event_type, b,
         CAST(SUM(w * x) AS DOUBLE) / SUM(w) AS mean_b
  FROM weighted GROUP BY event_type, b
), pt AS (
  SELECT event_type, count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean
  FROM events GROUP BY event_type
)
SELECT p.event_type, CAST(p.n AS BIGINT) AS n, round(p.mean, 6) AS mean,
       round(quantile_cont(r.mean_b, 0.025), 6) AS ci_lo,
       round(quantile_cont(r.mean_b, 0.975), 6) AS ci_hi
FROM reps r JOIN pt p ON p.event_type = r.event_type
GROUP BY p.event_type, p.n, p.mean
"""


@query("agg_bootstrap_ci", oracle=_BOOT_ORACLE)
def q_agg_bootstrap_ci(spark, sf_dir):
    """Deterministic Poisson bootstrap: 32 resample replicates of the
    per-type mean, with each row's replicate weight drawn from one hex
    digit of a single md5(event_id) — digit b drives replicate b through
    a 16-cell inverse-CDF table approximating Poisson(1)
    (6/16→0, 6/16→1, 3/16→2, 1/16→3).  The 2.5/97.5 percentiles of the
    32 replicate means are the CI.

    This is the streaming-friendly bootstrap: ONE hash per row fans out
    to all 32 replicates, weights are reproducible across engines and
    retries (no RNG state), and each replicate is a weighted mean —
    map-side combinable to |types|·32 cells.  Replicate means divide
    exact DECIMAL sums; the percentile interpolation is the identical
    lower+d·(upper−lower) on both engines."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    bs = ev.sparkSession.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    digit = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), F.col("b") + 1, 1),
        16, 10,
    ).cast("bigint")
    w = (
        F.when(digit < 6, 0)
        .when(digit < 12, 1)
        .when(digit < 15, 2)
        .otherwise(3)
    )
    weighted = ev.crossJoin(F.broadcast(bs)).select(
        "event_type", "b", w.alias("w"),
        F.col("value").cast("decimal(18,4)").alias("x"),
    )
    reps = weighted.groupBy("event_type", "b").agg(
        (F.sum(F.col("w") * F.col("x")).cast("double") / F.sum("w")).alias("mean_b")
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
         / F.count(F.lit(1))).alias("mean"),
    )
    ci = reps.groupBy("event_type").agg(
        F.round(F.expr("percentile(mean_b, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(mean_b, 0.975)"), 6).alias("ci_hi"),
    )
    return pt.join(ci, "event_type").select(
        "event_type", F.col("n").cast("bigint").alias("n"),
        F.round("mean", 6).alias("mean"), "ci_lo", "ci_hi",
    )


# ---------------------------------------------------------------------------
# Round 8: single-bin periodogram (weekly seasonality strength).

_PG_PERIOD = 7
_PG_TWO_PI = 6.283185307179586

_PERIODOGRAM_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS cnt
  FROM events GROUP BY event_type, epoch_us(ts) // 86400000000
), terms AS (
  SELECT event_type, cnt,
         CAST(round(cnt * cos({_PG_TWO_PI} * (day % {_PG_PERIOD})
                              / {_PG_PERIOD}), 6) AS DECIMAL(18,6)) AS ct,
         CAST(round(cnt * sin({_PG_TWO_PI} * (day % {_PG_PERIOD})
                              / {_PG_PERIOD}), 6) AS DECIMAL(18,6)) AS st
  FROM daily
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(SUM(cnt) AS BIGINT) AS total,
       CAST(SUM(ct) AS DOUBLE) AS c,
       CAST(SUM(st) AS DOUBLE) AS s,
       round(sqrt(CAST(SUM(ct) AS DOUBLE) * CAST(SUM(ct) AS DOUBLE)
                  + CAST(SUM(st) AS DOUBLE) * CAST(SUM(st) AS DOUBLE))
             / SUM(cnt), 6) AS weekly_strength
FROM terms GROUP BY event_type
"""


@query("ts_periodogram_bin", oracle=_PERIODOGRAM_ORACLE)
def q_ts_periodogram_bin(spark, sf_dir):
    """Weekly-seasonality strength per event type: the single 1/7-cycle
    DFT bin of the daily-count series (Goertzel-style — no FFT needed
    for one frequency).  |Σ cntₜ·e^{{-2πi·t/7}}| / Σ cnt ≈ 0 for flat
    traffic, large when volume follows a day-of-week cycle — the cheap
    seasonality screen before fitting ts_seasonal_profile.

    Day indices are exact integers (epoch-microseconds div), cos/sin
    see only 7 distinct arguments, and the weighted terms are
    rounded-to-6 then DECIMAL-summed, so the bin is order-free and
    engine-identical.  One grouped count + one model-sized aggregate."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    arg = F.lit(_PG_TWO_PI) * (F.col("day") % _PG_PERIOD) / _PG_PERIOD
    terms = daily.select(
        "event_type", "cnt",
        F.round(F.col("cnt") * F.cos(arg), 6).cast("decimal(18,6)").alias("ct"),
        F.round(F.col("cnt") * F.sin(arg), 6).cast("decimal(18,6)").alias("st"),
    )
    agg = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("total"),
        F.sum("ct").cast("double").alias("c"),
        F.sum("st").cast("double").alias("s"),
    )
    return agg.select(
        "event_type", "n_days", "total", "c", "s",
        F.round(
            F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s"))
            / F.col("total"), 6
        ).alias("weekly_strength"),
    )


# ---------------------------------------------------------------------------
# Round 8: classical one-way ANOVA F (parametric twin of Kruskal-Wallis).

_ANOVA_ORACLE = """
WITH g AS (
  SELECT event_type, count(*) AS n,
         SUM(CAST(value AS DECIMAL(18,4))) AS s,
         SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS ss
  FROM events GROUP BY event_type
), tot AS (
  SELECT SUM(n) AS nn, SUM(s) AS ts_, SUM(ss) AS tss, count(*) AS k FROM g
), parts AS (
  SELECT t.nn, t.k,
         CAST((SELECT SUM(CAST(round(CAST(g2.s AS DOUBLE) * g2.s / g2.n, 6)
                               AS DECIMAL(28,6))) FROM g g2) AS DOUBLE)
           - CAST(t.ts_ AS DOUBLE) * CAST(t.ts_ AS DOUBLE) / t.nn AS ss_between,
         CAST(t.tss AS DOUBLE)
           - CAST((SELECT SUM(CAST(round(CAST(g2.s AS DOUBLE) * g2.s / g2.n, 6)
                                   AS DECIMAL(28,6))) FROM g g2) AS DOUBLE)
           AS ss_within
  FROM tot t
)
SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
       round(ss_between, 4) AS ss_between,
       round(ss_within, 4) AS ss_within,
       round((ss_between / (k - 1)) / (ss_within / (nn - k)), 6) AS f_statistic
FROM parts
"""


@query("stats_anova_oneway", oracle=_ANOVA_ORACLE)
def q_stats_anova_oneway(spark, sf_dir):
    """Classical one-way ANOVA F across event types (the parametric
    twin of stats_kruskal_wallis): between/within sums of squares from
    the per-group moment relation — one map-side-combined aggregate,
    then |groups|-sized arithmetic.  Group moments are exact DECIMAL;
    the cross-group Σ(s²/n) is rounded-to-6 per group then
    DECIMAL-summed so it is order-free."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    vd = F.col("value").cast("decimal(18,4)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(vd).alias("s"),
        F.sum(vd * vd).alias("ss"),
    )
    bterm = (
        F.round(F.col("s").cast("double") * F.col("s") / F.col("n"), 6)
        .cast("decimal(28,6)")
    )
    tot = g.agg(
        F.sum("n").alias("nn"), F.sum("s").alias("ts_"),
        F.sum("ss").alias("tss"), F.count(F.lit(1)).alias("k"),
        F.sum(bterm).cast("double").alias("bsum"),
    )
    nn, k = F.col("nn"), F.col("k")
    ts_, tss, bsum = F.col("ts_").cast("double"), F.col("tss").cast("double"), F.col("bsum")
    ssb = bsum - ts_ * ts_ / nn
    ssw = tss - bsum
    return tot.select(
        nn.cast("bigint").alias("n"),
        k.cast("bigint").alias("k_groups"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round((ssb / (k - 1)) / (ssw / (nn - k)), 6).alias("f_statistic"),
    )


# ---------------------------------------------------------------------------
# Round 8: Tukey-fence outlier report per stream.

_TUKEY_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       round(q.q1, 6) AS q1, round(q.q3, 6) AS q3,
       CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(SUM(CASE WHEN e.value < q.q1 - 3.0 * (q.q3 - q.q1)
                       OR e.value > q.q3 + 3.0 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_far_outliers
FROM events e JOIN q ON q.event_type = e.event_type
GROUP BY e.event_type, q.q1, q.q3
"""


@query("stats_tukey_outliers", oracle=_TUKEY_ORACLE)
def q_stats_tukey_outliers(spark, sf_dir):
    """Tukey-fence outlier census per stream: counts outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] and the 3·IQR far fences — the
    box-plot screen complementing ts_outlier_mad's robust-z view.
    Exact interpolated quartiles per group (identical arithmetic both
    engines), broadcast back over one more pass; fence comparisons are
    on identical doubles."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    j = ev.join(F.broadcast(q), "event_type")
    iqr = F.col("q3") - F.col("q1")
    out15 = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    out30 = (F.col("value") < F.col("q1") - 3.0 * iqr) | (
        F.col("value") > F.col("q3") + 3.0 * iqr
    )
    return j.groupBy("event_type", "q1", "q3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(out15, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        F.sum(F.when(out30, 1).otherwise(0)).cast("bigint")
        .alias("n_far_outliers"),
    ).select(
        "event_type", "n",
        F.round("q1", 6).alias("q1"), F.round("q3", 6).alias("q3"),
        "n_outliers", "n_far_outliers",
    )


# ---------------------------------------------------------------------------
# Round 8: LTTB-style downsampling for time-series visualization.

_LTTB_BUCKETS = 24

_LTTB_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM events GROUP BY event_type, epoch_us(ts) // 86400000000
), pos AS (
  SELECT event_type, day, cnt,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), bucketed AS (
  SELECT event_type, day, cnt,
         CAST(least(((rn - 1) * {_LTTB_BUCKETS}) // n,
                    {_LTTB_BUCKETS - 1}) AS INTEGER) AS bucket
  FROM pos
), anchors AS (
  SELECT event_type, bucket,
         CAST(SUM(CAST(day AS DECIMAL(18,0))) AS DOUBLE) / count(*) AS ax,
         CAST(SUM(CAST(cnt AS DECIMAL(18,0))) AS DOUBLE) / count(*) AS ay
  FROM bucketed GROUP BY event_type, bucket
), scoredpts AS (
  SELECT b.event_type, b.bucket, b.day, b.cnt,
         round(abs((b.day - prev.ax) * (next_.ay - prev.ay)
                   - (b.cnt - prev.ay) * (next_.ax - prev.ax)), 6) AS area2
  FROM bucketed b
  JOIN anchors prev
    ON prev.event_type = b.event_type AND prev.bucket = b.bucket - 1
  JOIN anchors next_
    ON next_.event_type = b.event_type AND next_.bucket = b.bucket + 1
)
SELECT event_type, bucket, day, cnt FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                               ORDER BY area2 DESC, day) AS rk
  FROM scoredpts
) WHERE rk = 1
"""


@query("ts_downsample_lttb", oracle=_LTTB_ORACLE)
def q_ts_downsample_lttb(spark, sf_dir):
    """LTTB-style downsampling of the daily-count series per stream:
    within each of 24 equal-count buckets keep the point subtending the
    largest triangle against the NEIGHBOR BUCKET AVERAGES (the
    anchor-average variant — the classic LTTB chains on the previously
    selected point, a sequential dependency; anchoring on bucket means
    keeps the selection embarrassingly parallel with near-identical
    visual output, which is why dashboards use it for distributed
    pre-aggregation).  First/last buckets have no both-side anchors and
    are dropped (chart endpoints are kept verbatim by the renderer).

    Plan: one grouped count, per-stream bucketing from exact integer
    positions, bucket-mean anchors, then a per-(stream, bucket) argmax
    window.  Triangle areas compare rounded identical doubles."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    daily = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    pos = daily.select(
        "event_type", "day", "cnt",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    bucket = F.least(
        F.expr(f"((rn - 1) * {_LTTB_BUCKETS}) div n"),
        F.lit(_LTTB_BUCKETS - 1),
    ).cast("int")
    bucketed = pos.select("event_type", "day", "cnt", bucket.alias("bucket"))
    anchors = bucketed.groupBy("event_type", "bucket").agg(
        (F.sum(F.col("day").cast("decimal(18,0)")).cast("double")
         / F.count(F.lit(1))).alias("ax"),
        (F.sum(F.col("cnt").cast("decimal(18,0)")).cast("double")
         / F.count(F.lit(1))).alias("ay"),
    )
    prev = anchors.select(
        F.col("event_type").alias("et1"), (F.col("bucket") + 1).alias("b1"),
        F.col("ax").alias("pax"), F.col("ay").alias("pay"),
    )
    nxt = anchors.select(
        F.col("event_type").alias("et2"), (F.col("bucket") - 1).alias("b2"),
        F.col("ax").alias("nax"), F.col("ay").alias("nay"),
    )
    scored = (
        bucketed.join(
            prev, (F.col("event_type") == F.col("et1"))
            & (F.col("bucket") == F.col("b1"))
        )
        .join(
            nxt, (F.col("event_type") == F.col("et2"))
            & (F.col("bucket") == F.col("b2"))
        )
        .select(
            "event_type", "bucket", "day", "cnt",
            F.round(
                F.abs(
                    (F.col("day") - F.col("pax")) * (F.col("nay") - F.col("pay"))
                    - (F.col("cnt") - F.col("pay")) * (F.col("nax") - F.col("pax"))
                ), 6
            ).alias("area2"),
        )
    )
    # per-bucket argmax: a hash aggregate, not a row_number sort (r14)
    return (
        scored.groupBy("event_type", "bucket")
        .agg(
            best_struct(scored, [("area2", "desc"), ("day", "asc")], ["cnt"])
            .alias("top")
        )
        .select("event_type", "bucket",
                F.col("top.day").alias("day"), F.col("top.cnt").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Round 8: deterministic hash-permutation test for the two-sample mean
# gap.

_PERM_B = 32


@query(
    "stats_permutation_pvalue",
    oracle=f"""
WITH base AS (
  SELECT event_id, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
  FROM events WHERE event_type IN ('purchase', 'view')
), obs AS (
  SELECT CAST(SUM(CASE WHEN grp = 1 THEN CAST(value AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / SUM(grp)
         - CAST(SUM(CASE WHEN grp = 0 THEN CAST(value AS DECIMAL(18,4))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / SUM(1 - grp) AS d_obs
  FROM base
), perms AS (
  SELECT b.b,
         CAST(SUM(CASE WHEN CAST(('0x' || substring(
                    md5(CAST(base.event_id AS VARCHAR)), b.b + 1, 1))
                    AS BIGINT) % 2 = 1
                       THEN CAST(base.value AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / SUM(CASE WHEN CAST(('0x' || substring(
                    md5(CAST(base.event_id AS VARCHAR)), b.b + 1, 1))
                    AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END)
         - CAST(SUM(CASE WHEN CAST(('0x' || substring(
                    md5(CAST(base.event_id AS VARCHAR)), b.b + 1, 1))
                    AS BIGINT) % 2 = 0
                         THEN CAST(base.value AS DECIMAL(18,4))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / SUM(CASE WHEN CAST(('0x' || substring(
                    md5(CAST(base.event_id AS VARCHAR)), b.b + 1, 1))
                    AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS d_b
  FROM base, (SELECT unnest(range(0, {_PERM_B})) AS b) b
  GROUP BY b.b
)
SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n,
       round((SELECT d_obs FROM obs), 6) AS observed_gap,
       CAST(SUM(CASE WHEN abs(d_b) >= abs((SELECT d_obs FROM obs))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       round(CAST(SUM(CASE WHEN abs(d_b) >= abs((SELECT d_obs FROM obs))
                           THEN 1 ELSE 0 END) AS DOUBLE) / {_PERM_B}, 6)
         AS p_value
FROM perms
""",
)
def q_stats_permutation_pvalue(spark, sf_dir):
    """Randomization test for the purchase-vs-view mean gap with
    DETERMINISTIC pseudo-permutations: replicate b reassigns each row
    by the parity of hex digit b of one md5(event_id) (the
    agg_bootstrap_ci trick — one hash per row drives all 32
    replicates; reproducible across engines, retries, and backfills).
    p = fraction of replicate gaps at least as extreme as observed.

    Each replicate is two weighted means over exact DECIMAL sums —
    32 grouped cells after a map-side combine; no data reshuffle per
    replicate, no RNG state.  (32 labeled re-splits give a coarse but
    honest p resolution of 1/32 — the operator's point is the
    deterministic machinery; crank B for production precision.)"""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    base = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_id",
        F.col("value").cast("decimal(18,4)").alias("x"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
    ).persist()
    zero = F.lit(0).cast("decimal(18,4)")
    obs_row = base.agg(
        (
            F.sum(F.when(F.col("grp") == 1, F.col("x")).otherwise(zero))
            .cast("double") / F.sum("grp")
            - F.sum(F.when(F.col("grp") == 0, F.col("x")).otherwise(zero))
            .cast("double") / F.sum(1 - F.col("grp"))
        ).alias("d_obs"),
        F.count(F.lit(1)).alias("n"),
    )
    bs = ev.sparkSession.range(_PERM_B).select(F.col("id").cast("int").alias("b"))
    digit = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), F.col("b") + 1, 1),
        16, 10,
    ).cast("bigint")
    fan = base.crossJoin(F.broadcast(bs)).select(
        "b", "x", (digit % 2).alias("side")
    )
    perms = fan.groupBy("b").agg(
        (
            F.sum(F.when(F.col("side") == 1, F.col("x")).otherwise(zero))
            .cast("double") / F.sum(F.col("side"))
            - F.sum(F.when(F.col("side") == 0, F.col("x")).otherwise(zero))
            .cast("double") / F.sum(1 - F.col("side"))
        ).alias("d_b")
    )
    j = perms.crossJoin(F.broadcast(obs_row))
    extreme = F.when(F.abs(F.col("d_b")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
    return j.agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(F.max("d_obs"), 6).alias("observed_gap"),
        F.sum(extreme).cast("bigint").alias("n_extreme"),
        F.round(F.sum(extreme).cast("double") / _PERM_B, 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Round 8: Q-Q decile comparison between two streams.

_QQ_ORACLE = """
WITH a AS (
  SELECT quantile_cont(value, 0.1) AS qa0, quantile_cont(value, 0.2) AS qa1, quantile_cont(value, 0.3) AS qa2, quantile_cont(value, 0.4) AS qa3, quantile_cont(value, 0.5) AS qa4, quantile_cont(value, 0.6) AS qa5, quantile_cont(value, 0.7) AS qa6, quantile_cont(value, 0.8) AS qa7, quantile_cont(value, 0.9) AS qa8
  FROM events WHERE event_type = 'purchase'
), b AS (
  SELECT quantile_cont(value, 0.1) AS qb0, quantile_cont(value, 0.2) AS qb1, quantile_cont(value, 0.3) AS qb2, quantile_cont(value, 0.4) AS qb3, quantile_cont(value, 0.5) AS qb4, quantile_cont(value, 0.6) AS qb5, quantile_cont(value, 0.7) AS qb6, quantile_cont(value, 0.8) AS qb7, quantile_cont(value, 0.9) AS qb8
  FROM events WHERE event_type = 'view'
)
SELECT 0.1 AS p, round(a.qa0, 6) AS q_purchase, round(b.qb0, 6) AS q_view, round(a.qa0 - b.qb0, 6) AS gap FROM a, b
UNION ALL
SELECT 0.2 AS p, round(a.qa1, 6) AS q_purchase, round(b.qb1, 6) AS q_view, round(a.qa1 - b.qb1, 6) AS gap FROM a, b
UNION ALL
SELECT 0.3 AS p, round(a.qa2, 6) AS q_purchase, round(b.qb2, 6) AS q_view, round(a.qa2 - b.qb2, 6) AS gap FROM a, b
UNION ALL
SELECT 0.4 AS p, round(a.qa3, 6) AS q_purchase, round(b.qb3, 6) AS q_view, round(a.qa3 - b.qb3, 6) AS gap FROM a, b
UNION ALL
SELECT 0.5 AS p, round(a.qa4, 6) AS q_purchase, round(b.qb4, 6) AS q_view, round(a.qa4 - b.qb4, 6) AS gap FROM a, b
UNION ALL
SELECT 0.6 AS p, round(a.qa5, 6) AS q_purchase, round(b.qb5, 6) AS q_view, round(a.qa5 - b.qb5, 6) AS gap FROM a, b
UNION ALL
SELECT 0.7 AS p, round(a.qa6, 6) AS q_purchase, round(b.qb6, 6) AS q_view, round(a.qa6 - b.qb6, 6) AS gap FROM a, b
UNION ALL
SELECT 0.8 AS p, round(a.qa7, 6) AS q_purchase, round(b.qb7, 6) AS q_view, round(a.qa7 - b.qb7, 6) AS gap FROM a, b
UNION ALL
SELECT 0.9 AS p, round(a.qa8, 6) AS q_purchase, round(b.qb8, 6) AS q_view, round(a.qa8 - b.qb8, 6) AS gap FROM a, b
"""


@query("stats_qq_deciles", oracle=_QQ_ORACLE)
def q_stats_qq_deciles(spark, sf_dir):
    """Q-Q comparison of the purchase vs view value distributions at
    the nine interior deciles — where exactly the two distributions
    diverge (drift_ks's D says IF; the Q-Q table says WHERE and by HOW
    MUCH in value units).  Exact interpolated percentiles per side
    (identical lower+d·(upper−lower) arithmetic); nine output rows."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    ps = [round(0.1 * i, 1) for i in range(1, 10)]
    a = ev.filter(F.col("event_type") == "purchase").agg(
        *[F.expr(f"percentile(value, {p})").alias(f"qa{i}")
          for i, p in enumerate(ps)]
    )
    b = ev.filter(F.col("event_type") == "view").agg(
        *[F.expr(f"percentile(value, {p})").alias(f"qb{i}")
          for i, p in enumerate(ps)]
    )
    wide = a.crossJoin(b)
    rows = F.array(*[
        F.struct(
            F.lit(p).alias("p"),
            F.col(f"qa{i}").alias("qp"),
            F.col(f"qb{i}").alias("qv"),
        )
        for i, p in enumerate(ps)
    ])
    ex = wide.select(F.explode(rows).alias("r"))
    return ex.select(
        F.round(F.col("r.p"), 1).alias("p"),
        F.round(F.col("r.qp"), 6).alias("q_purchase"),
        F.round(F.col("r.qv"), 6).alias("q_view"),
        F.round(F.col("r.qp") - F.col("r.qv"), 6).alias("gap"),
    )


# ---------------------------------------------------------------------------
# Round 8: one-sample KS goodness-of-fit against Uniform(0, 500).

_KSU_SCALE = 500.0

_KS_UNIFORM_ORACLE = f"""
WITH pervalue AS (
  SELECT value, count(*) AS c FROM events GROUP BY value
), cum AS (
  SELECT value, c,
         SUM(c) OVER (ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(c) OVER () AS n
  FROM pervalue
)
SELECT CAST(max(n) AS BIGINT) AS n,
       round(max(greatest(
         abs(CAST(cc AS DOUBLE) / n - value / {_KSU_SCALE}),
         abs(CAST(cc - c AS DOUBLE) / n - value / {_KSU_SCALE})
       )), 6) AS ks_d
FROM cum
"""


@query("stats_ks_uniform", oracle=_KS_UNIFORM_ORACLE)
def q_stats_ks_uniform(spark, sf_dir):
    """One-sample Kolmogorov-Smirnov statistic of the value column
    against Uniform(0, 500): D = max over jump points of the larger of
    |F̂(x) − F₀(x)| just after and just before each step (both sides of
    every jump — the textbook D⁺/D⁻ form) — the goodness-of-fit twin
    of the two-sample drift_ks.

    Same scale plan as drift_ks: collapse to distinct values, running
    counts via ``keyed_running_sums`` (constant key, range-partitioned),
    exact integer CDF numerators; F₀ is a single division of identical
    doubles."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    pervalue = ev.groupBy("value").agg(F.count(F.lit(1)).alias("c")).withColumn(
        "k", F.lit(1)
    )
    cum, tot = keyed_running_sums(pervalue, ["k"], [F.col("value")], ["c"])
    n = F.col("total_c")
    f0 = F.col("value") / _KSU_SCALE
    gap = F.greatest(
        F.abs(F.col("cum_c").cast("double") / n - f0),
        F.abs((F.col("cum_c") - F.col("c")).cast("double") / n - f0),
    )
    return cum.crossJoin(F.broadcast(tot.select("total_c"))).agg(
        F.max(n).cast("bigint").alias("n"),
        F.round(F.max(gap), 6).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# Round 10: two-sample Welch t — completing the two-sample family next to
# the rank-based stats_mann_whitney and the omnibus stats_anova_oneway.

# shared click-vs-error exact-DECIMAL moment CTEs (g = per-group n/s/ss,
# m = the 6-column two-arm pivot) — the front half of BOTH the Welch t
# oracle below and exp_power_mde's (queries_quality.py)
TWO_SAMPLE_MOMENTS_CTE = """g AS (
  SELECT event_type, count(*) AS n,
         SUM(CAST(value AS DECIMAL(18,4))) AS s,
         SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS ss
  FROM events WHERE event_type IN ('click', 'error') GROUP BY event_type
), m AS (
  SELECT
    MAX(CASE WHEN event_type = 'click' THEN n END) AS na,
    MAX(CASE WHEN event_type = 'click' THEN CAST(s AS DOUBLE) END) AS sa,
    MAX(CASE WHEN event_type = 'click' THEN CAST(ss AS DOUBLE) END) AS ssa,
    MAX(CASE WHEN event_type = 'error' THEN n END) AS nb,
    MAX(CASE WHEN event_type = 'error' THEN CAST(s AS DOUBLE) END) AS sb,
    MAX(CASE WHEN event_type = 'error' THEN CAST(ss AS DOUBLE) END) AS ssb
  FROM g
)"""


def two_sample_moments(ev):
    """Spark twin of :data:`TWO_SAMPLE_MOMENTS_CTE`: one map-side-combined
    moment aggregate over the click/error arms, pivoted to a single
    6-column row (na, sa, ssa, nb, sb, ssb — counts long, sums double
    from exact DECIMAL(18,4))."""
    vd = F.col("value").cast("decimal(18,4)")
    g = (
        ev.filter(F.col("event_type").isin("click", "error"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(vd).alias("s"),
             F.sum(vd * vd).alias("ss"))
    )

    def pick(col, t):
        return F.max(F.when(F.col("event_type") == t, F.col(col)))

    return g.agg(
        pick("n", "click").alias("na"),
        pick("s", "click").cast("double").alias("sa"),
        pick("ss", "click").cast("double").alias("ssa"),
        pick("n", "error").alias("nb"),
        pick("s", "error").cast("double").alias("sb"),
        pick("ss", "error").cast("double").alias("ssb"),
    )


_WELCH_ORACLE = f"""
WITH {TWO_SAMPLE_MOMENTS_CTE}, v AS (
  SELECT na, nb, sa / na AS ma, sb / nb AS mb,
         (ssa - sa * sa / na) / (na - 1) / na AS van,
         (ssb - sb * sb / nb) / (nb - 1) / nb AS vbn
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round((ma - mb) / sqrt(van + vbn), 6) AS t_statistic,
       round((van + vbn) * (van + vbn)
             / (van * van / (na - 1) + vbn * vbn / (nb - 1)), 4) AS df_welch
FROM v
"""


@query("stats_welch_ttest", oracle=_WELCH_ORACLE)
def q_stats_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance two-sample t over the click-vs-error
    value streams: per-group exact DECIMAL moments (one map-side-combined
    aggregate), then scalar IEEE arithmetic — t statistic and the
    Welch–Satterthwaite df.  The decimal→double ss cast carries the
    documented 1-ulp DuckDB headroom (anova precedent: trailing rounds
    at 6/4 dp dominate a ~1e-14 absolute drift)."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    m = two_sample_moments(ev)
    na, nb = F.col("na"), F.col("nb")
    ma = F.col("sa") / na
    mb = F.col("sb") / nb
    van = (F.col("ssa") - F.col("sa") * F.col("sa") / na) / (na - 1) / na
    vbn = (F.col("ssb") - F.col("sb") * F.col("sb") / nb) / (nb - 1) / nb
    return m.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round((ma - mb) / F.sqrt(van + vbn), 6).alias("t_statistic"),
        F.round(
            (van + vbn) * (van + vbn)
            / (van * van / (na - 1) + vbn * vbn / (nb - 1)),
            4,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# Round 10: Brown–Forsythe robust variance-homogeneity test — the
# assumption check that pairs with stats_anova_oneway (ANOVA assumes
# equal group variances; BF is the median-centered Levene, robust to
# non-normality).

_BF_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
), z AS (
  SELECT e.event_type, round(abs(e.value - m.med), 6) AS zr
  FROM events e JOIN med m USING (event_type)
), g AS (
  SELECT event_type, count(*) AS n,
         SUM(CAST(zr AS DECIMAL(18,6))) AS s,
         SUM(CAST(round(zr * zr, 6) AS DECIMAL(18,6))) AS ss
  FROM z GROUP BY 1
), tot AS (
  SELECT SUM(n) AS nn, SUM(s) AS ts_, SUM(ss) AS tss, count(*) AS k,
         CAST(SUM(CAST(round(CAST(s AS DOUBLE) * s / n, 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS bsum
  FROM g
)
SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
       round(bsum - CAST(ts_ AS DOUBLE) * CAST(ts_ AS DOUBLE) / nn, 4)
         AS ss_between,
       round(CAST(tss AS DOUBLE) - bsum, 4) AS ss_within,
       round(((bsum - CAST(ts_ AS DOUBLE) * CAST(ts_ AS DOUBLE) / nn) / (k - 1))
             / ((CAST(tss AS DOUBLE) - bsum) / (nn - k)), 6) AS f_statistic
FROM tot
"""


@query("stats_levene_brown_forsythe", oracle=_BF_ORACLE)
def q_stats_levene_brown_forsythe(spark, sf_dir):
    """Brown–Forsythe (median-centered Levene) variance-homogeneity F
    across event types: z = |value − group median| (exact interpolated
    median, the tukey precedent), then the one-way ANOVA machinery on z
    — per-group exact DECIMAL moments of the 6-dp-rounded z, the anova
    oracle's order-free Σ(s²/n) fold, trailing 4/6-dp rounds for the
    documented decimal→double headroom.  Plan: one median aggregate
    broadcast back, one moment shuffle, |groups|-sized arithmetic."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    zr = F.round(F.abs(F.col("value") - F.col("med")), 6)
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", zr.alias("zr")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("zr").cast("decimal(18,6)")).alias("s"),
        F.sum(F.round(F.col("zr") * F.col("zr"), 6).cast("decimal(18,6)"))
        .alias("ss"),
    )
    bterm = (
        F.round(F.col("s").cast("double") * F.col("s") / F.col("n"), 6)
        .cast("decimal(28,6)")
    )
    tot = g.agg(
        F.sum("n").alias("nn"), F.sum("s").alias("ts_"),
        F.sum("ss").alias("tss"), F.count(F.lit(1)).alias("k"),
        F.sum(bterm).cast("double").alias("bsum"),
    )
    nn, k = F.col("nn"), F.col("k")
    ts_, tss, bsum = (
        F.col("ts_").cast("double"), F.col("tss").cast("double"), F.col("bsum")
    )
    ssb = bsum - ts_ * ts_ / nn
    ssw = tss - bsum
    return tot.select(
        nn.cast("bigint").alias("n"),
        k.cast("bigint").alias("k_groups"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round((ssb / (k - 1)) / (ssw / (nn - k)), 6).alias("f_statistic"),
    )


# ---------------------------------------------------------------------------
# Round 10: diagonal-Mahalanobis embedding outlier audit — the vector-
# quality gate an embedding pipeline runs before ANN-index build or
# SemDeDup (a corrupt encoder batch shows up as a cluster of extreme
# scores; a dead dimension shows up via the variance guard).

_MAHA_ORACLE = """
WITH x AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), m AS (
  SELECT dim, count(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(v * v AS DECIMAL(18,8))) AS DOUBLE) AS s2
  FROM x GROUP BY dim
), st AS (
  SELECT dim, round(s1 / n, 6) AS mu,
         round(s2 / n - (s1 / n) * (s1 / n), 6) AS var
  FROM m
), terms AS (
  SELECT x.vec_id,
         CASE WHEN st.var > 0
              THEN CAST(round((x.v - st.mu) * (x.v - st.mu) / st.var, 6)
                        AS DECIMAL(18,6))
              ELSE CAST(0 AS DECIMAL(18,6)) END AS term
  FROM x JOIN st USING (dim)
)
SELECT vec_id, CAST(SUM(term) AS DOUBLE) AS md2,
       CAST(count(*) AS BIGINT) AS n_dims,
       (CAST(SUM(term) AS DOUBLE) > 2.0 * count(*)) AS is_outlier
FROM terms GROUP BY vec_id
"""


@query("emb_outlier_mahalanobis_diag", oracle=_MAHA_ORACLE)
def q_emb_outlier_mahalanobis_diag(spark, sf_dir):
    """Per-vector diagonal Mahalanobis distance² against the corpus'
    per-dimension mean/variance (the emb_dim_stats model, 6-dp-rounded
    so both engines hold bitwise-equal parameters), zero-variance dims
    guarded to 0.  Terms are round-6 + DECIMAL-summed (order-free);
    outlier flag at the E[md²]=n_dims heuristic doubled.  Plan: the
    posexplode shuffle folds map-side to 64 combiner rows; the 64-row
    stats broadcast back; the per-vector sum is one vec_id shuffle —
    all linear, no pair enumeration."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "vf")
    ).select("vec_id", "dim", F.col("vf").cast("double").alias("v"))
    m = x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(18,8)")).cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(18,8)")).cast("double")
        .alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    st = m.select(
        "dim",
        F.round(s1 / n, 6).alias("mu"),
        F.round(s2 / n - (s1 / n) * (s1 / n), 6).alias("var"),
    )
    term = F.when(
        F.col("var") > 0,
        F.round(
            (F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu")) / F.col("var"),
            6,
        ).cast("decimal(18,6)"),
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    terms = x.join(F.broadcast(st), "dim").select("vec_id", term.alias("term"))
    md2 = F.sum("term").cast("double")
    return terms.groupBy("vec_id").agg(
        md2.alias("md2"),
        F.count(F.lit(1)).alias("n_dims"),
        (md2 > 2.0 * F.count(F.lit(1))).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Round 11: Benford first-digit audit + Jarque-Bera normality test

# Expected Benford shares log10(1 + 1/d), computed ONCE in Python and
# inlined as literals on both sides (engine ln/log10 may round the last
# digit differently — the SPRT-constant rule).
_BENFORD_EXPECTED = {
    1: 0.3010299957, 2: 0.1760912591, 3: 0.1249387366, 4: 0.096910013,
    5: 0.079181246, 6: 0.0669467896, 7: 0.057991947, 8: 0.0511525224,
    9: 0.0457574906,
}

_BENFORD_ORACLE = """
WITH d AS (
  SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM orders WHERE o_totalprice >= 1
), obs AS (
  SELECT digit, count(*) AS observed FROM d GROUP BY digit
), tot AS (
  SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs
), exp AS (
  {expected_rows}
)
SELECT e.digit, coalesce(o.observed, 0) AS observed,
       CAST(coalesce(o.observed, 0) AS DOUBLE) / t.n AS observed_share,
       e.expected_share,
       CAST(coalesce(o.observed, 0) AS DOUBLE) / t.n - e.expected_share
         AS deviation
FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
""".format(expected_rows=" UNION ALL ".join(
    f"SELECT '{d}' AS digit, CAST({e!r} AS DOUBLE) AS expected_share"
    for d, e in _BENFORD_EXPECTED.items()
))


@query("stats_benford_digits", oracle=_BENFORD_ORACLE)
def q_stats_benford_digits(spark, sf_dir):
    """Benford's-law first-digit audit over order totals — the classic
    fraud/synthetic-data screen: observed first-significant-digit shares
    vs log10(1+1/d).  The digit comes from the STRING render of
    floor(value) cast to BIGINT (floor first: a raw double→bigint cast
    truncates in Spark but rounds half-even in DuckDB), so both engines
    bucket identically; expected shares are Python-computed literals.
    Shares are raw single-division quotients of exact integers (bitwise
    identical — never round a raw quotient).  One narrow groupBy over 9
    digits; map-side combined; the 9-row expected table broadcasts."""
    (o,) = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    )
    obs = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    tot = obs.agg(F.sum("observed").cast("bigint").alias("n"))
    exp = spark.createDataFrame(
        [(str(d), e) for d, e in _BENFORD_EXPECTED.items()],
        "digit string, expected_share double",
    )
    share = F.coalesce(F.col("observed"), F.lit(0)).cast("double") / F.col("n")
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("observed"), F.lit(0)).alias("observed"),
            share.alias("observed_share"),
            "expected_share",
            (share - F.col("expected_share")).alias("deviation"),
        )
    )


_JB_ORACLE = """
WITH m AS (
  SELECT event_type,
         count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
         CAST(SUM(CAST((value * value) * value AS DECIMAL(38,6))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(((value * value) * value) * value AS DECIMAL(38,6))) AS DOUBLE) AS s4
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       round((n / 6.0) * (
         ((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
          * (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n)))
         / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))
            * (s2 / n - (s1 / n) * (s1 / n)))
         + ((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
             - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
            / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3)
           * ((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
              / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3)
           / 4.0
       ), 6) AS jb_stat
FROM m
"""


@query("stats_jarque_bera", oracle=_JB_ORACLE)
def q_stats_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality statistic per event type —
    JB = n/6·(S² + K²/4) from the same one-pass exact decimal moments
    as agg_skew_kurtosis (S = skewness, K = EXCESS kurtosis).  S² is
    written as m3²/m2³ so no libm pow appears anywhere (pure */ chains
    are identically rounded across engines given identical moment
    doubles).  Single shuffle, map-side-combinable decimal sums; at
    100 TB this is the cheapest distribution-shift tripwire to attach
    to any numeric column."""
    (ev,) = _t(spark, sf_dir, "events")
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("s2"),
        F.sum(((v * v) * v).cast("decimal(38,6)")).cast("double").alias("s3"),
        F.sum((((v * v) * v) * v).cast("decimal(38,6)")).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    kexc = m4 / (m2 * m2) - 3
    jb = (n / 6.0) * ((m3 * m3) / (m2 * m2 * m2) + kexc * kexc / 4.0)
    return m.select("event_type", "n", F.round(jb, 6).alias("jb_stat"))


_CRAMERS_ORACLE = """
WITH cells AS (
  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS day7,
         count(*) AS o
  FROM events GROUP BY event_type, day7
), rm AS (
  SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY event_type
), cm AS (
  SELECT day7, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY day7
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS r,
         CAST(count(DISTINCT day7) AS BIGINT) AS c
  FROM cells
), terms AS (
  SELECT CAST(round(
           (o - CAST(rm.rt AS DOUBLE) * cm.ct / t.n)
           * (o - CAST(rm.rt AS DOUBLE) * cm.ct / t.n)
           / (CAST(rm.rt AS DOUBLE) * cm.ct / t.n), 6) AS DECIMAL(18,6)) AS term
  FROM cells x JOIN rm ON rm.event_type = x.event_type
  JOIN cm ON cm.day7 = x.day7 CROSS JOIN tot t
)
SELECT t.n, t.r, t.c,
       CAST(SUM(term) AS DOUBLE) AS chi2,
       sqrt(CAST(SUM(term) AS DOUBLE)
            / (t.n * CASE WHEN t.r - 1 < t.c - 1 THEN t.r - 1 ELSE t.c - 1 END))
         AS cramers_v
FROM terms CROSS JOIN tot t
GROUP BY t.n, t.r, t.c
"""


@query("stats_cramers_v", oracle=_CRAMERS_ORACLE)
def q_stats_cramers_v(spark, sf_dir):
    """Cramér's V association between event type and day-of-week — the
    normalized-chi² effect size for two categoricals (drift_chi2's
    companion: chi² says "dependent", V says "how much" on [0,1]).
    Day keys are integer epoch-day mod 7 (engine dayofweek NUMBERING
    DIFFERS: Spark 1=Sunday, DuckDB 0=Sunday — integer day arithmetic
    sidesteps the calendar entirely).  Contingency cells, margins, and
    N are exact integers from map-side-combined groupBys; per-cell chi²
    terms are rounded-to-6 and DECIMAL-summed (order-free); V's final
    divide/sqrt is a single identical expression.  At 100 TB: one
    |types|×7-cell table — everything after the first groupBy is
    metadata-sized."""
    (ev,) = _t(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            (F.expr("unix_micros(ts) div 86400000000") % 7).alias("day7"),
        )
        .groupBy("event_type", "day7")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rm = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("rt"))
    cm = cells.groupBy("day7").agg(F.sum("o").cast("bigint").alias("ct"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("r"),
        F.countDistinct("day7").cast("bigint").alias("c"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 6).cast("decimal(18,6)")
    terms = (
        cells.join(rm, "event_type")
        .join(F.broadcast(cm), "day7")
        .crossJoin(F.broadcast(tot))
        .select("n", "r", "c", term.alias("term"))
    )
    chi2 = F.sum("term").cast("double")
    mindf = F.when(F.col("r") - 1 < F.col("c") - 1, F.col("r") - 1).otherwise(
        F.col("c") - 1
    )
    return terms.groupBy("n", "r", "c").agg(
        chi2.alias("chi2"),
        F.sqrt(chi2 / (F.col("n") * mindf)).alias("cramers_v"),
    )


_GRUBBS_ORACLE = """
WITH m AS (
  SELECT event_type,
         count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
         max(value) AS mx,
         min(value) AS mn
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       round(CASE WHEN mx - s1 / n > s1 / n - mn THEN mx - s1 / n
                  ELSE s1 / n - mn END
             / sqrt((s2 - s1 * (s1 / n)) / (n - 1)), 6) AS g_stat,
       (CASE WHEN mx - s1 / n > s1 / n - mn THEN mx - s1 / n
             ELSE s1 / n - mn END
        / sqrt((s2 - s1 * (s1 / n)) / (n - 1)) > 4.0) AS extreme
FROM m
"""


@query("stats_grubbs_outlier", oracle=_GRUBBS_ORACLE)
def q_stats_grubbs_outlier(spark, sf_dir):
    """Grubbs' statistic per event type — G = max|x−x̄|/s, the classic
    single-outlier screen (Tukey fences and MAD flag MANY outliers;
    Grubbs asks whether the single most extreme point is surprising).
    One pass: max|x−x̄| = greatest(max−x̄, x̄−min), so the moments, max
    and min come from a single map-side-combined aggregate — no second
    scan, no sort.  s is the SAMPLE sd from the exact decimal moments
    (s² = (s2 − s1·x̄)/(n−1)).  The exact critical value needs a
    t-quantile (not portable); `extreme` flags G > 4.0, a conservative
    fixed threshold (α≈0.05 crosses 4.0 only beyond n≈30k)."""
    (ev,) = _t(spark, sf_dir, "events")
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("s2"),
        F.max(v).alias("mx"),
        F.min(v).alias("mn"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mu = s1 / n
    dev = F.when(F.col("mx") - mu > mu - F.col("mn"), F.col("mx") - mu).otherwise(
        mu - F.col("mn")
    )
    g = dev / F.sqrt((s2 - s1 * mu) / (n - 1))
    return m.select(
        "event_type", "n", F.round(g, 6).alias("g_stat"), (g > 4.0).alias("extreme")
    )


_MK_ORACLE = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS m
  FROM events GROUP BY event_type, day
), s AS (
  SELECT a.event_type,
         CAST(SUM(CAST(sign(b.m - a.m) AS BIGINT)) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY a.event_type
), n AS (
  SELECT event_type, count(*) AS n_days FROM daily GROUP BY event_type
)
SELECT n.event_type, n.n_days, s.s_stat,
       round(CASE WHEN s.s_stat > 0
                  THEN (s.s_stat - 1) / sqrt(n.n_days * (n.n_days - 1)
                       * (2 * n.n_days + 5) / 18.0)
                  WHEN s.s_stat < 0
                  THEN (s.s_stat + 1) / sqrt(n.n_days * (n.n_days - 1)
                       * (2 * n.n_days + 5) / 18.0)
                  ELSE 0.0 END, 6) AS z_stat
FROM n JOIN s ON s.event_type = n.event_type
"""


@query("ts_mk_trend", oracle=_MK_ORACLE)
def q_ts_mk_trend(spark, sf_dir):
    """Mann-Kendall trend test per event type over DAILY mean values —
    the standard nonparametric monotone-trend detector (no distribution
    or linearity assumption; ts_theil_sen estimates the slope, MK tests
    its existence).  S = Σ_{i<j} sign(m_j − m_i) over day pairs: the
    pair join is day-count-bounded (≈30²/2 pairs per type — a METADATA
    cross, never row-scale), daily means divide exact decimal sums (so
    sign() compares identical doubles), and the normal approximation
    z = (S∓1)/σ uses the integer-exact variance n(n−1)(2n+5)/18 (tie
    correction omitted identically on both sides — double means make
    exact ties measure-zero)."""
    (ev,) = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
             / F.count("*")).alias("m")
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(F.signum(F.col("b.m") - F.col("a.m")).cast("bigint"))
             .cast("bigint").alias("s_stat"))
    )
    n = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    nd, ss = F.col("n_days"), F.col("s_stat")
    sigma = F.sqrt(nd * (nd - 1) * (2 * nd + 5) / 18.0)
    z = (
        F.when(ss > 0, (ss - 1) / sigma)
        .when(ss < 0, (ss + 1) / sigma)
        .otherwise(F.lit(0.0))
    )
    return n.join(s, "event_type").select(
        "event_type", "n_days", "s_stat", F.round(z, 6).alias("z_stat")
    )


_RUNS_ORACLE = """
WITH m AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mu
  FROM events GROUP BY event_type
), tagged AS (
  SELECT e.event_type,
         CASE WHEN e.value >= m.mu THEN 1 ELSE 0 END AS s,
         e.ts, e.event_id
  FROM events e JOIN m ON m.event_type = e.event_type
), flips AS (
  SELECT event_type, s,
         CASE WHEN lag(s) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) IS DISTINCT FROM s
              THEN 1 ELSE 0 END AS flip
  FROM tagged
), agg AS (
  SELECT event_type,
         CAST(SUM(flip) AS BIGINT) AS runs,
         CAST(SUM(s) AS BIGINT) AS n1,
         CAST(SUM(1 - s) AS BIGINT) AS n2
  FROM flips GROUP BY event_type
)
SELECT event_type, n1, n2, runs,
       round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1))), 6)
         AS z_stat
FROM agg
"""


@query("stats_runs_test", oracle=_RUNS_ORACLE)
def q_stats_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test per event type — is the above/below-mean
    sign sequence RANDOM in time order, or does it cluster (trend /
    regime persistence) or alternate (over-dispersion)?  The first flip
    counts as run #1 (lag NULL IS DISTINCT FROM s on the first row), so
    runs = the exact run count.  Means divide exact decimal sums; the
    z-score's mean/variance are pure integer-derived expressions —
    identical doubles both engines.  Order is pinned by (ts, event_id)
    — the full-tie-break rule for this fixture's duplicate timestamps.
    One partitioned window over the event stream; at 100 TB the sign
    sequence rides the natural time-sorted layout."""
    (ev,) = _t(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
         / F.count("*")).alias("mu")
    )
    tagged = ev.join(F.broadcast(m), "event_type").select(
        "event_type",
        F.when(F.col("value") >= F.col("mu"), 1).otherwise(0).alias("s"),
        "ts", "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    flips = tagged.select(
        "event_type", "s",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("flip"),
    )
    agg = flips.groupBy("event_type").agg(
        F.sum("flip").cast("bigint").alias("runs"),
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n2"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    mu_r = 2.0 * n1 * n2 / (n1 + n2) + 1
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1))
    )
    return agg.select(
        "event_type", "n1", "n2", "runs",
        F.round((runs - mu_r) / F.sqrt(var_r), 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Round 11 (session 3): standardized effect size — Cohen's d with the
# Hedges' g small-sample correction, completing the two-sample family
# next to stats_welch_ttest (significance) with MAGNITUDE (how big the
# difference is in pooled-sd units — the report metric a/b analyses
# pair with the t-test's p).

_COHENS_D_ORACLE = f"""
WITH {TWO_SAMPLE_MOMENTS_CTE}, v AS (
  SELECT na, nb, sa / na AS ma, sb / nb AS mb,
         (ssa - sa * sa / na + ssb - sb * sb / nb) / (na + nb - 2) AS sp2
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma - mb, 6) AS mean_diff,
       round((ma - mb) / sqrt(sp2), 6) AS cohens_d,
       round((ma - mb) / sqrt(sp2)
             * (1 - 3 / (4.0 * (na + nb) - 9)), 6) AS hedges_g
FROM v
"""


@query("stats_cohens_d", oracle=_COHENS_D_ORACLE)
def q_stats_cohens_d(spark, sf_dir):
    """Cohen's d (pooled-sd standardized mean difference) and Hedges' g
    (the exact small-sample correction factor 1 − 3/(4N − 9)) over the
    click-vs-error arms: shares the exact DECIMAL two-arm moment pivot
    with stats_welch_ttest, then scalar IEEE arithmetic — the pooled
    variance folds as (ssa − sa²/na + ssb − sb²/nb)/(na+nb−2) in one
    mirrored op order, sqrt is IEEE-correctly-rounded on both engines."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    m = two_sample_moments(ev)
    na, nb = F.col("na"), F.col("nb")
    ma = F.col("sa") / na
    mb = F.col("sb") / nb
    sp2 = (
        F.col("ssa") - F.col("sa") * F.col("sa") / na
        + F.col("ssb") - F.col("sb") * F.col("sb") / nb
    ) / (na + nb - 2)
    d = (ma - mb) / F.sqrt(sp2)
    g = d * (1 - 3 / (4.0 * (na + nb) - 9))
    return m.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(ma - mb, 6).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(g, 6).alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 4: Kendall's tau-b, the two-group log-rank test, and
# the Friedman repeated-measures rank test — the remaining classical
# nonparametric trio (Spearman/Mann-Whitney/Kruskal/Wilcoxon precedents
# live in queries_rank.py / this file).

_KENDALL_ORACLE = """
WITH nat AS (
  SELECT c_nationkey AS k, count(*) AS x,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS y
  FROM customer GROUP BY c_nationkey
), pairs AS (
  SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
  FROM nat a JOIN nat b ON a.k < b.k
), cnt AS (
  SELECT count(*) AS n0,
         SUM(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)
                  THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)
                  THEN 1 ELSE 0 END) AS d,
         SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS tx,
         SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS ty
  FROM pairs
)
SELECT (SELECT count(*) FROM nat) AS n_groups,
       CAST(n0 AS BIGINT) AS n_pairs,
       CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
       round((c - d) / sqrt(CAST((n0 - tx) AS DOUBLE) * (n0 - ty)), 6)
         AS tau_b
FROM cnt
"""


@query("stats_kendall_tau", oracle=_KENDALL_ORACLE)
def q_stats_kendall_tau(spark, sf_dir):
    """Kendall's tau-b rank correlation between per-nation customer count
    and total account balance.  The raw table collapses to one exact row
    per nation (one partial-agg shuffle); the pair enumeration is then
    quadratic only in GROUP count (25 nations -> 300 pairs), a broadcast
    self-join over a KB-sized relation — the same collapse-then-pair
    discipline as stats_wilcoxon_signed_rank.  Counts and decimal sums
    compare exactly, so C/D/tie tallies are integers and tau-b is one
    IEEE expression."""
    cust = load_tables(spark, sf_dir)["customer"]  # no fan_out (r13)
    nat = cust.groupBy(F.col("c_nationkey").alias("k")).agg(
        F.count("*").alias("x"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("y"),
    )
    a = nat.alias("a")
    b = nat.alias("b")
    xa, ya = F.col("a.x"), F.col("a.y")
    xb, yb = F.col("b.x"), F.col("b.y")
    pairs = a.join(F.broadcast(b), F.col("a.k") < F.col("b.k"))
    conc = ((xa < xb) & (ya < yb)) | ((xa > xb) & (ya > yb))
    disc = ((xa < xb) & (ya > yb)) | ((xa > xb) & (ya < yb))
    cnt = pairs.agg(
        F.count("*").alias("n0"),
        F.sum(F.when(conc, 1).otherwise(0)).alias("c"),
        F.sum(F.when(disc, 1).otherwise(0)).alias("d"),
        F.sum(F.when(xa == xb, 1).otherwise(0)).alias("tx"),
        F.sum(F.when(ya == yb, 1).otherwise(0)).alias("ty"),
    )
    ng = nat.agg(F.count("*").alias("n_groups"))
    n0, c, d = F.col("n0"), F.col("c"), F.col("d")
    return cnt.crossJoin(F.broadcast(ng)).select(
        "n_groups",
        n0.cast("bigint").alias("n_pairs"),
        c.cast("bigint").alias("concordant"),
        d.cast("bigint").alias("discordant"),
        F.round(
            (c - d)
            / F.sqrt((n0 - F.col("tx")).cast("double") * (n0 - F.col("ty"))),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Two-group log-rank test over user lifetimes in the event stream.

_LOGRANK_ORACLE = """
WITH u AS (
  SELECT user_id, user_id % 2 AS grp,
         max(epoch_us(ts) // 86400000000)
           - min(epoch_us(ts) // 86400000000) AS t,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
  FROM events GROUP BY user_id
), a AS (
  SELECT grp, t, count(*) AS tot, SUM(ev) AS d
  FROM u GROUP BY grp, t
), dt AS (
  SELECT t FROM a GROUP BY t HAVING SUM(d) > 0
), risk AS (
  SELECT dt.t, a.grp,
         SUM(a.tot) AS n_g,
         SUM(CASE WHEN a.t = dt.t THEN a.d ELSE 0 END) AS d_g
  FROM dt JOIN a ON a.t >= dt.t
  GROUP BY dt.t, a.grp
), p AS (
  SELECT t,
         COALESCE(SUM(CASE WHEN grp = 1 THEN n_g END), 0) AS n1,
         COALESCE(SUM(CASE WHEN grp = 1 THEN d_g END), 0) AS d1,
         SUM(n_g) AS n, SUM(d_g) AS d
  FROM risk GROUP BY t
), terms AS (
  SELECT d1,
         CAST(round(d * (CAST(n1 AS DOUBLE) / n), 8) AS DECIMAL(18,8)) AS e1,
         CAST(round(CASE WHEN n > 1 THEN
                 d * (CAST(n1 AS DOUBLE) / n) * (1 - CAST(n1 AS DOUBLE) / n)
                   * (n - d) / (n - 1)
               ELSE 0 END, 8) AS DECIMAL(18,8)) AS v
  FROM p
)
SELECT count(*) AS n_death_times,
       CAST(SUM(d1) AS BIGINT) AS observed_1,
       round(CAST(SUM(e1) AS DOUBLE), 6) AS expected_1,
       round(CAST(SUM(v) AS DOUBLE), 6) AS variance,
       round(pow(SUM(d1) - CAST(SUM(e1) AS DOUBLE), 2)
             / CAST(SUM(v) AS DOUBLE), 4) AS chi2
FROM terms
"""


@query("stats_logrank_test", oracle=_LOGRANK_ORACLE)
def q_stats_logrank_test(spark, sf_dir):
    """Two-group log-rank (Mantel-Cox) test: user lifetime = span in days
    between first and last event, death = the user converted ('purchase'),
    otherwise right-censored at last activity; arms split by user_id
    parity.  The stream collapses to one row per user (one shuffle), then
    to one row per (arm, lifetime) — the at-risk table n_g(t) comes from
    a non-equi join of the death-time list against that AGGREGATE-sized
    relation, never against users.  Hypergeometric terms are per-row IEEE
    doubles rounded to 8 dp and decimal-summed (order-independent), the
    chi-square is one final expression."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    day = F.expr("unix_micros(ts) div 86400000000")
    u = ev.groupBy("user_id").agg(
        (F.max(day) - F.min(day)).alias("t"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("ev"),
    ).select((F.col("user_id") % 2).alias("grp"), "t", "ev")
    a = u.groupBy("grp", "t").agg(F.count("*").alias("tot"), F.sum("ev").alias("d"))
    dt = a.groupBy("t").agg(F.sum("d").alias("dd")).filter(F.col("dd") > 0).select(
        F.col("t").alias("death_t")
    )
    risk = (
        F.broadcast(dt)
        .join(a, a["t"] >= F.col("death_t"))
        .groupBy("death_t", "grp")
        .agg(
            F.sum("tot").alias("n_g"),
            F.sum(F.when(F.col("t") == F.col("death_t"), F.col("d")).otherwise(0)).alias("d_g"),
        )
    )
    p = risk.groupBy("death_t").agg(
        F.coalesce(F.sum(F.when(F.col("grp") == 1, F.col("n_g"))), F.lit(0)).alias("n1"),
        F.coalesce(F.sum(F.when(F.col("grp") == 1, F.col("d_g"))), F.lit(0)).alias("d1"),
        F.sum("n_g").alias("n"),
        F.sum("d_g").alias("d"),
    )
    n, d, n1 = F.col("n"), F.col("d"), F.col("n1")
    frac = n1.cast("double") / n
    terms = p.select(
        "d1",
        F.round(d * frac, 8).cast("decimal(18,8)").alias("e1"),
        F.round(
            F.when(n > 1, d * frac * (1 - frac) * (n - d) / (n - 1)).otherwise(0.0), 8
        ).cast("decimal(18,8)").alias("v"),
    )
    return terms.agg(
        F.count("*").alias("n_death_times"),
        F.sum("d1").cast("bigint").alias("observed_1"),
        F.round(F.sum("e1").cast("double"), 6).alias("expected_1"),
        F.round(F.sum("v").cast("double"), 6).alias("variance"),
        F.round(
            F.pow(F.sum("d1") - F.sum("e1").cast("double"), 2)
            / F.sum("v").cast("double"),
            4,
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Friedman repeated-measures rank test over monthly order volumes.

_FRIEDMAN_ORACLE = """
WITH cell AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS blk, o_orderpriority AS trt,
         count(*) AS val
  FROM orders GROUP BY 1, 2
), k AS (
  SELECT count(DISTINCT trt) AS k FROM cell
), full_blk AS (
  SELECT blk FROM cell GROUP BY blk
  HAVING count(*) = (SELECT k FROM k)
), ranked AS (
  SELECT c.blk, c.trt,
         2 * rank() OVER (PARTITION BY c.blk ORDER BY c.val)
           + count(*) OVER (PARTITION BY c.blk, c.val) - 1 AS r2
  FROM cell c JOIN full_blk USING (blk)
), treat AS (
  SELECT trt, SUM(r2) AS b2 FROM ranked GROUP BY trt
), tot AS (
  SELECT (SELECT count(*) FROM full_blk) AS n, (SELECT k FROM k) AS k,
         (SELECT SUM(r2 * r2) FROM ranked) AS a4,
         SUM((b2 - (SELECT count(*) FROM full_blk)
                   * ((SELECT k FROM k) + 1))
             * (b2 - (SELECT count(*) FROM full_blk)
                     * ((SELECT k FROM k) + 1))) AS num4
  FROM treat
)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
       round((k - 1) * CAST(num4 AS DOUBLE)
             / (a4 - CAST(n AS BIGINT) * k * (k + 1) * (k + 1)), 6)
         AS q_statistic
FROM tot
"""


@query("stats_friedman", oracle=_FRIEDMAN_ORACLE)
def q_stats_friedman(spark, sf_dir):
    """Friedman rank test (tie-corrected): blocks = order months,
    treatments = the five order priorities, response = monthly order
    count.  Incomplete blocks are dropped.  Doubled average ranks
    2r = 2*rank + ties - 1 keep every rank INTEGER (the queries_rank.py
    convention), so numerator and denominator fold as exact integer sums
    — Q = (k-1)*SUM_j(B_j - n(k+1))^2 / (A - n*k*(k+1)^2) with
    B_j = SUM 2r and A = SUM (2r)^2 — and the only IEEE op is the final
    division.  One shuffle to the (month, priority) grid; ranks run in
    windows PARTITIONED by month over the aggregate-sized grid."""
    orders = load_tables(spark, sf_dir)["orders"]  # no fan_out (r13)
    cell = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(F.count("*").alias("val"))
    k_df = cell.agg(F.countDistinct("trt").alias("k"))
    blk_sizes = cell.groupBy("blk").agg(F.count("*").alias("nt"))
    full_blk = blk_sizes.join(F.broadcast(k_df), blk_sizes["nt"] == k_df["k"]).select("blk")
    kept = cell.join(F.broadcast(full_blk), "blk")
    w_rank = Window.partitionBy("blk").orderBy("val")
    w_tie = Window.partitionBy("blk", "val")
    ranked = kept.select(
        "blk", "trt",
        (2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1).alias("r2"),
    )
    n_df = full_blk.agg(F.count("*").alias("n"))
    a_df = ranked.agg(F.sum(F.col("r2") * F.col("r2")).alias("a4"))
    treat = ranked.groupBy("trt").agg(F.sum("r2").alias("b2"))
    num = (
        treat.crossJoin(F.broadcast(n_df))
        .crossJoin(F.broadcast(k_df))
        .select(
            "n", "k",
            ((F.col("b2") - F.col("n") * (F.col("k") + 1))
             * (F.col("b2") - F.col("n") * (F.col("k") + 1))).alias("sq"),
        )
        .groupBy("n", "k")
        .agg(F.sum("sq").alias("num4"))
    )
    n, k = F.col("n"), F.col("k")
    return num.crossJoin(F.broadcast(a_df)).select(
        n.cast("bigint").alias("n_blocks"),
        k.cast("bigint").alias("k_treatments"),
        F.round(
            (k - 1) * F.col("num4").cast("double")
            / (F.col("a4") - n.cast("bigint") * k * (k + 1) * (k + 1)),
            6,
        ).alias("q_statistic"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 4 (cont.): Anderson-Darling goodness-of-fit — the
# tail-weighted companion of stats_ks_uniform (AD puts weight 1/[F(1-F)]
# on the tails, where KS is least sensitive).

_AD_SCALE = 500.0

_AD_ORACLE = f"""
WITH pervalue AS (
  SELECT value, count(*) AS c FROM events
  WHERE value > 0 AND value < {_AD_SCALE} GROUP BY value
), cum AS (
  SELECT value, c,
         SUM(c) OVER (ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(c) OVER () AS n
  FROM pervalue
), terms AS (
  SELECT n,
         -- SUM(2i-1) over a tie run telescopes to cc^2 - (cc-c)^2
         -- = c(2cc - c); its mirror to c(2n - 2cc + c).  The factored
         -- forms never square a cumulative count (int64-safe to
         -- n ~ 2^31 rows; beyond that lift to DECIMAL(38,0))
         c * (2 * cc - c) AS w1,
         c * (2 * n - 2 * cc + c) AS w2,
         CAST(round(ln(value / {_AD_SCALE}), 8) AS DECIMAL(18,8)) AS lnf,
         CAST(round(ln(1 - value / {_AD_SCALE}), 8) AS DECIMAL(18,8)) AS lnr
  FROM cum
)
SELECT CAST(max(n) AS BIGINT) AS n,
       round(-CAST(max(n) AS DOUBLE)
             - CAST(SUM(w1 * lnf + w2 * lnr) AS DOUBLE) / max(n), 4)
         AS a_squared
FROM terms
"""


@query("stats_anderson_darling_uniform", oracle=_AD_ORACLE)
def q_stats_anderson_darling_uniform(spark, sf_dir):
    """Anderson-Darling A^2 against Uniform(0, 500) from per-distinct-
    value grouped counts: the order-statistic sum folds per tie run
    (SUM of 2i-1 over a run telescopes to cc^2 - (cc-c)^2, its mirror to
    c(2n+1) - (cc^2+cc-(cc-c)^2-(cc-c))), so the plan is the SAME
    collapse + range-partitioned running count as stats_ks_uniform —
    never a per-row rank.  ln terms are rounded to 8 dp (the
    ml_mutual_info libm discipline) and multiplied by exact integer
    weights in DECIMAL, so the sum is order-independent."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    pervalue = (
        ev.filter((F.col("value") > 0) & (F.col("value") < _AD_SCALE))
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("k", F.lit(1))
    )
    cum, tot = keyed_running_sums(pervalue, ["k"], [F.col("value")], ["c"])
    j = cum.crossJoin(F.broadcast(tot.select(F.col("total_c").alias("n"))))
    cc, c, n = F.col("cum_c"), F.col("c"), F.col("n")
    # factored tie-run weights (no squared cumulative counts — see oracle)
    w1 = c * (2 * cc - c)
    w2 = c * (2 * n - 2 * cc + c)
    lnf = F.round(F.log(F.col("value") / _AD_SCALE), 8).cast("decimal(18,8)")
    lnr = F.round(F.log(1 - F.col("value") / _AD_SCALE), 8).cast("decimal(18,8)")
    terms = j.select(n.alias("n"), (w1 * lnf + w2 * lnr).alias("t"))
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(
            -F.max("n").cast("double") - F.sum("t").cast("double") / F.max("n"), 4
        ).alias("a_squared"),
    )


# ---------------------------------------------------------------------------
# Circular statistics of event hour-of-day — mean direction + resultant
# length (the correct average for wrap-around quantities; a 23:00/01:00
# mix must average to midnight, not noon).

_CIRC_ORACLE = """
WITH byhour AS (
  SELECT event_type, hour(ts) AS h, count(*) AS c FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, c,
         CAST(round(sin(2 * pi() * h / 24), 8) AS DECIMAL(18,8)) AS s,
         CAST(round(cos(2 * pi() * h / 24), 8) AS DECIMAL(18,8)) AS co
  FROM byhour
), m AS (
  SELECT event_type, SUM(c) AS n,
         CAST(SUM(c * s) AS DOUBLE) AS ss, CAST(SUM(c * co) AS DOUBLE) AS sc
  FROM t GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(sqrt(ss * ss + sc * sc) / n, 6) AS resultant_r,
       round(((atan2(ss, sc) + 2 * pi()) % (2 * pi())) / (2 * pi()) * 24, 4)
         AS mean_hour
FROM m
"""


@query("events_circular_hour_stats", oracle=_CIRC_ORACLE)
def q_events_circular_hour_stats(spark, sf_dir):
    """Circular mean hour and resultant length R per event type: hours
    collapse to 24 buckets per type (one partial-agg shuffle), the 24
    unit vectors are rounded to 8 dp (libm sin/cos discipline) and
    weighted by exact integer counts in DECIMAL, so the vector sum is
    order-independent; atan2/sqrt run once per GROUP on identical
    doubles.  R near 1 = concentrated traffic, near 0 = uniform."""
    import math

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    byhour = ev.groupBy("event_type", F.hour("ts").alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ang = 2 * math.pi * F.col("h") / 24
    t = byhour.select(
        "event_type",
        "c",
        F.round(F.sin(ang), 8).cast("decimal(18,8)").alias("s"),
        F.round(F.cos(ang), 8).cast("decimal(18,8)").alias("co"),
    )
    m = t.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("s")).cast("double").alias("ss"),
        F.sum(F.col("c") * F.col("co")).cast("double").alias("sc"),
    )
    n, ss, sc = F.col("n"), F.col("ss"), F.col("sc")
    two_pi = 2 * math.pi
    return m.select(
        "event_type",
        n.cast("bigint").alias("n"),
        F.round(F.sqrt(ss * ss + sc * sc) / n, 6).alias("resultant_r"),
        F.round(
            ((F.atan2(ss, sc) + two_pi) % two_pi) / two_pi * 24, 4
        ).alias("mean_hour"),
    )


# ---------------------------------------------------------------------------
# Theil's uncertainty coefficient — the asymmetric, normalized
# association measure (how much knowing Y reduces uncertainty about X),
# completing the categorical-association family next to stats_cramers_v
# (symmetric, chi-square-based) and ml_mutual_info (unnormalized).

_THEIL_U_ORACLE = """
WITH binned AS (
  SELECT event_type AS x, least(CAST(floor(value / 50) AS BIGINT), 9) AS y
  FROM events
), joint AS (
  SELECT x, y, count(*) AS nxy FROM binned GROUP BY x, y
), tot AS (
  SELECT SUM(nxy) AS n FROM joint
), margx AS (
  SELECT x, SUM(nxy) AS nx FROM joint GROUP BY x
), margy AS (
  SELECT y, SUM(nxy) AS ny FROM joint GROUP BY y
), hx AS (
  SELECT -CAST(SUM(CAST(round(CAST(nx AS DOUBLE) / n * ln(CAST(nx AS DOUBLE) / n), 8)
                        AS DECIMAL(18,8))) AS DOUBLE) AS h
  FROM margx, tot
), hy AS (
  SELECT -CAST(SUM(CAST(round(CAST(ny AS DOUBLE) / n * ln(CAST(ny AS DOUBLE) / n), 8)
                        AS DECIMAL(18,8))) AS DOUBLE) AS h
  FROM margy, tot
), hxgy AS (
  SELECT -CAST(SUM(CAST(round(CAST(nxy AS DOUBLE) / n
                              * ln(CAST(nxy AS DOUBLE) / ny), 8)
                        AS DECIMAL(18,8))) AS DOUBLE) AS h
  FROM joint JOIN margy USING (y), tot
), hygx AS (
  SELECT -CAST(SUM(CAST(round(CAST(nxy AS DOUBLE) / n
                              * ln(CAST(nxy AS DOUBLE) / nx), 8)
                        AS DECIMAL(18,8))) AS DOUBLE) AS h
  FROM joint JOIN margx USING (x), tot
)
SELECT round(hx.h, 6) AS h_x, round(hy.h, 6) AS h_y,
       round((hx.h - hxgy.h) / hx.h, 6) AS u_x_given_y,
       round((hy.h - hygx.h) / hy.h, 6) AS u_y_given_x
FROM hx, hy, hxgy, hygx
"""


@query("stats_theil_u", oracle=_THEIL_U_ORACLE)
def q_stats_theil_u(spark, sf_dir):
    """Theil's U in both directions over (event type, value decile):
    U(X|Y) = (H(X) - H(X|Y)) / H(X).  The stream collapses once to the
    |types| x 10 contingency relation; marginals re-aggregate from it
    (never from rows); every entropy term is one IEEE expression over
    exact integer counts rounded to 8 dp and decimal-summed (the
    ml_mutual_info libm discipline).  Asymmetry is the point: a
    many-to-one mapping gives U(Y|X) near 1 with U(X|Y) small."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    binned = ev.select(
        F.col("event_type").alias("x"),
        F.least(F.floor(F.col("value") / 50).cast("bigint"), F.lit(9)).alias("y"),
    )
    joint = binned.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nxy"))
    joint = joint.persist()
    margx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    margy = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = joint.agg(F.sum("nxy").alias("n"))

    def _ent(df, cnt):
        p = F.col(cnt).cast("double") / F.col("n")
        return df.crossJoin(F.broadcast(tot)).select(
            F.round(p * F.log(p), 8).cast("decimal(18,8)").alias("t")
        ).agg((-F.sum("t").cast("double")).alias("h"))

    hx = _ent(margx, "nx")
    hy = _ent(margy, "ny")
    hxgy = (
        joint.join(F.broadcast(margy), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("nxy").cast("double") / F.col("n"))
                * F.log(F.col("nxy").cast("double") / F.col("ny")),
                8,
            ).cast("decimal(18,8)").alias("t")
        )
        .agg((-F.sum("t").cast("double")).alias("h"))
    )
    hygx = (
        joint.join(F.broadcast(margx), "x")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("nxy").cast("double") / F.col("n"))
                * F.log(F.col("nxy").cast("double") / F.col("nx")),
                8,
            ).cast("decimal(18,8)").alias("t")
        )
        .agg((-F.sum("t").cast("double")).alias("h"))
    )
    out = (
        hx.select(F.col("h").alias("hx"))
        .crossJoin(hy.select(F.col("h").alias("hy")))
        .crossJoin(hxgy.select(F.col("h").alias("hxgy")))
        .crossJoin(hygx.select(F.col("h").alias("hygx")))
        .select(
            F.round(F.col("hx"), 6).alias("h_x"),
            F.round(F.col("hy"), 6).alias("h_y"),
            F.round((F.col("hx") - F.col("hxgy")) / F.col("hx"), 6).alias("u_x_given_y"),
            F.round((F.col("hy") - F.col("hygx")) / F.col("hy"), 6).alias("u_y_given_x"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Rescaled-range (R/S) Hurst exponent of the event value series —
# long-range-dependence detection (H ~ 0.5 = memoryless, > 0.5 =
# persistent trends, < 0.5 = mean-reverting), the classical companion
# of ts_autocorr / ts_mk_trend.

_HURST_WINDOWS = (16, 64, 256)
# 16/64/256 = 4^2..4^4: equally spaced in log space, so the 3-point OLS
# slope collapses to (y3 - y1) / (2*ln 4).  The spacing constant is a
# PYTHON literal injected into both engines (no libm ln() at query time
# for the x-axis).
_HURST_2LN4 = 2.772588722239781  # 2*ln(4), shortest round-trip repr


def _hurst_oracle() -> str:
    legs = []
    for w in _HURST_WINDOWS:
        legs.append(f"""
leg{w} AS (
  SELECT count(*) AS n_chunks,
         CAST(SUM(CAST(round(r / s, 8) AS DECIMAL(18,8))) AS DOUBLE)
           / count(*) AS avg_rs
  FROM (
    SELECT chunk, max(z) - min(z) AS r,
           sqrt(CAST(max(ssq) AS DOUBLE) / {w}
                - (CAST(max(sx) AS DOUBLE) / {w})
                  * (CAST(max(sx) AS DOUBLE) / {w})) AS s
    FROM (
      SELECT chunk, rn - chunk * {w} AS t, sx, ssq,
             CAST(cumx AS DOUBLE)
               - (rn - chunk * {w}) * (CAST(sx AS DOUBLE) / {w}) AS z
      FROM (
        SELECT (rn - 1) // {w} AS chunk, rn,
               SUM(vd) OVER (PARTITION BY (rn - 1) // {w} ORDER BY rn
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumx,
               SUM(vd) OVER (PARTITION BY (rn - 1) // {w}) AS sx,
               SUM(vd * vd) OVER (PARTITION BY (rn - 1) // {w}) AS ssq
        FROM base WHERE rn <= (total // {w}) * {w}
      ) c
    ) zt GROUP BY chunk
    HAVING sqrt(CAST(max(ssq) AS DOUBLE) / {w}
                - (CAST(max(sx) AS DOUBLE) / {w})
                  * (CAST(max(sx) AS DOUBLE) / {w})) > 0
  ) per_chunk
)""")
    w1, w2, w3 = _HURST_WINDOWS
    return (
        "WITH base AS (\n"
        "  SELECT CAST(value AS DECIMAL(18,4)) AS vd,\n"
        "         row_number() OVER (ORDER BY ts, event_id) AS rn,\n"
        "         count(*) OVER () AS total\n"
        "  FROM events\n"
        ")," + ",".join(legs) + f"""
SELECT (SELECT count(*) FROM base) AS n_series,
       (SELECT n_chunks FROM leg{w1}) AS chunks_{w1},
       (SELECT n_chunks FROM leg{w2}) AS chunks_{w2},
       (SELECT n_chunks FROM leg{w3}) AS chunks_{w3},
       round((SELECT avg_rs FROM leg{w1}), 6) AS rs_{w1},
       round((SELECT avg_rs FROM leg{w2}), 6) AS rs_{w2},
       round((SELECT avg_rs FROM leg{w3}), 6) AS rs_{w3},
       round((ln((SELECT avg_rs FROM leg{w3}))
              - ln((SELECT avg_rs FROM leg{w1}))) / {_HURST_2LN4}, 4)
         AS hurst
"""
    )


@query("ts_hurst_rs", oracle=_hurst_oracle())
def q_ts_hurst_rs(spark, sf_dir):
    """Hurst exponent by rescaled-range analysis: the value series
    (total order = (ts, event_id)) is cut into full chunks of 16/64/256
    samples; per chunk R = range of the cumulative mean-deviation walk
    and S = population std, both from EXACT decimal moments — the
    within-chunk cumulative sum runs in DECIMAL (order-independent), so
    z/r/s are single IEEE expressions over identical inputs.  H is the
    log-log slope of avg(R/S) vs window size; 16/64/256 are equally
    log-spaced so the OLS slope collapses to (y3-y1)/(2 ln 4) with the
    spacing constant a Python literal on both engines.

    Scale: global sequence numbers via ``global_row_number`` (range
    partition + offsets — never an unpartitioned window); each leg is
    one windowed pass partitioned by chunk (|rows|/w partitions) plus a
    chunk-sized aggregate.  ln(avg) runs once per leg."""
    from pulsar_ingestion_spark.operators.ranking import global_row_number

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    series = ev.select(
        F.col("value").cast("decimal(18,4)").alias("vd"), "ts", "event_id"
    )
    ranked, total = global_row_number(series, [F.col("ts"), F.col("event_id")])
    ranked = ranked.withColumnRenamed("_rn", "rn")
    legs = {}
    for w in _HURST_WINDOWS:
        full = ranked.filter(F.col("rn") <= (total // w) * w).withColumn(
            "chunk", ((F.col("rn") - 1) - (F.col("rn") - 1) % w) / w
        ).withColumn("chunk", F.col("chunk").cast("bigint"))
        wc = Window.partitionBy("chunk")
        worder = wc.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
        zt = full.select(
            "chunk",
            (F.col("rn") - F.col("chunk") * w).alias("t"),
            F.sum("vd").over(worder).alias("cumx"),
            F.sum("vd").over(wc).alias("sx"),
            F.sum(F.col("vd") * F.col("vd")).over(wc).alias("ssq"),
        )
        mean = F.col("sx").cast("double") / w
        z = F.col("cumx").cast("double") - F.col("t") * mean
        per_chunk = zt.select("chunk", z.alias("z"), "sx", "ssq").groupBy(
            "chunk"
        ).agg(
            (F.max("z") - F.min("z")).alias("r"),
            F.sqrt(
                F.max("ssq").cast("double") / w
                - (F.max("sx").cast("double") / w) * (F.max("sx").cast("double") / w)
            ).alias("s"),
        ).filter(F.col("s") > 0)
        legs[w] = per_chunk.agg(
            F.count("*").alias(f"chunks_{w}"),
            (
                F.sum(F.round(F.col("r") / F.col("s"), 8).cast("decimal(18,8)"))
                .cast("double") / F.count("*")
            ).alias(f"avg_rs_{w}"),
        )
    w1, w2, w3 = _HURST_WINDOWS
    n_df = ranked.agg(F.count("*").alias("n_series"))
    out = (
        n_df.crossJoin(F.broadcast(legs[w1]))
        .crossJoin(F.broadcast(legs[w2]))
        .crossJoin(F.broadcast(legs[w3]))
    )
    return out.select(
        "n_series",
        F.col(f"chunks_{w1}"),
        F.col(f"chunks_{w2}"),
        F.col(f"chunks_{w3}"),
        F.round(F.col(f"avg_rs_{w1}"), 6).alias(f"rs_{w1}"),
        F.round(F.col(f"avg_rs_{w2}"), 6).alias(f"rs_{w2}"),
        F.round(F.col(f"avg_rs_{w3}"), 6).alias(f"rs_{w3}"),
        F.round(
            (F.log(F.col(f"avg_rs_{w3}")) - F.log(F.col(f"avg_rs_{w1}")))
            / _HURST_2LN4,
            4,
        ).alias("hurst"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier product-limit survival curve — the estimator the
# two-group log-rank test (stats_logrank_test) tests; pooled arms.

_KM_ORACLE = """
WITH u AS (
  SELECT user_id,
         max(epoch_us(ts) // 86400000000)
           - min(epoch_us(ts) // 86400000000) AS t,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
  FROM events GROUP BY user_id
), a AS (
  SELECT t, count(*) AS tot, SUM(ev) AS d FROM u GROUP BY t
), dt AS (
  SELECT t, d FROM a WHERE d > 0
), risk AS (
  SELECT dt.t, dt.d, SUM(a.tot) AS n
  FROM dt JOIN a ON a.t >= dt.t GROUP BY dt.t, dt.d
), lf AS (
  -- 8-dp log factors carried as SCALED BIGINTs (x 1e8): the running
  -- sum is exact integer arithmetic on both engines
  SELECT t, d, n,
         CAST(round(ln(1 - CAST(d AS DOUBLE) / n) * 100000000, 0)
              AS BIGINT) AS lnf8
  FROM risk WHERE d < n
), cum AS (
  SELECT t, d, n,
         SUM(lnf8) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cl8
  FROM lf
)
SELECT t AS death_time, CAST(n AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_deaths,
       round(1 - CAST(d AS DOUBLE) / n, 6) AS factor,
       round(exp(CAST(cl8 AS DOUBLE) / 100000000), 6) AS survival
FROM cum
"""


@query("stats_kaplan_meier", oracle=_KM_ORACLE)
def q_stats_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier product-limit curve over pooled user lifetimes
    (death = conversion, censoring = last activity — the
    stats_logrank_test collapse): S(t) = PRODUCT over death times <= t
    of (1 - d/n), computed as exp of a cumulative sum of 8-dp-rounded
    ln factors in DECIMAL — the product becomes an order-independent
    sum, and exp runs once per output row.  The at-risk table is the
    same aggregate-sized non-equi join as the log-rank test; the
    cumulative sum rides ``keyed_running_sums`` (constant key), never a
    partition-less window.  Death times where d = n (everyone at risk
    dies) are excluded from the log fold (ln 0): S drops to 0 at the
    curve's end and the row would be its last point — the fixtures
    never reach it, and both engines exclude identically."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    day = F.expr("unix_micros(ts) div 86400000000")
    u = ev.groupBy("user_id").agg(
        (F.max(day) - F.min(day)).alias("t"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("ev"),
    )
    a = u.groupBy("t").agg(F.count("*").alias("tot"), F.sum("ev").alias("d"))
    dt = a.filter(F.col("d") > 0).select(F.col("t").alias("death_t"), "d")
    risk = (
        F.broadcast(dt)
        .join(a.select(F.col("t").alias("at"), "tot"), F.col("at") >= F.col("death_t"))
        .groupBy("death_t", "d")
        .agg(F.sum("tot").alias("n"))
    )
    lf = risk.filter(F.col("d") < F.col("n")).select(
        "death_t", "d", "n",
        # scaled-bigint 8-dp log factor (the helper sums Long/Double):
        # round(x*1e8) as BIGINT == the decimal(18,8) encoding, exact
        F.round(F.log(1 - F.col("d").cast("double") / F.col("n")) * 100000000, 0)
        .cast("bigint")
        .alias("lnf8"),
    ).withColumn("k", F.lit(1))
    cum, _tot = keyed_running_sums(lf, ["k"], [F.col("death_t")], ["lnf8"])
    return cum.select(
        F.col("death_t").alias("death_time"),
        F.col("n").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_deaths"),
        F.round(1 - F.col("d").cast("double") / F.col("n"), 6).alias("factor"),
        F.round(
            F.exp(F.col("cum_lnf8").cast("double") / 100000000), 6
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard — the counting-process companion of
# stats_kaplan_meier (H(t) = SUM d/n over death times <= t; the
# Fleming-Harrington survival exp(-H) rides the same sum).

_NA_ORACLE = """
WITH u AS (
  SELECT user_id,
         max(epoch_us(ts) // 86400000000)
           - min(epoch_us(ts) // 86400000000) AS t,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
  FROM events GROUP BY user_id
), a AS (
  SELECT t, count(*) AS tot, SUM(ev) AS d FROM u GROUP BY t
), dt AS (
  SELECT t, d FROM a WHERE d > 0
), risk AS (
  SELECT dt.t, dt.d, SUM(a.tot) AS n
  FROM dt JOIN a ON a.t >= dt.t GROUP BY dt.t, dt.d
), hz AS (
  SELECT t, d, n,
         CAST(round(CAST(d AS DOUBLE) / n * 100000000, 0) AS BIGINT) AS h8
  FROM risk
), cum AS (
  SELECT t, d, n,
         SUM(h8) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ch8
  FROM hz
)
SELECT t AS death_time, CAST(n AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_deaths,
       round(CAST(ch8 AS DOUBLE) / 100000000, 6) AS cum_hazard,
       round(exp(-CAST(ch8 AS DOUBLE) / 100000000), 6) AS fh_survival
FROM cum
"""


@query("stats_nelson_aalen", oracle=_NA_ORACLE)
def q_stats_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard over the pooled-lifetime collapse
    shared with stats_kaplan_meier: H(t) = SUM over death times <= t of
    d/n, the hazard increments carried as scaled BIGINTs (x 1e8)
    through ``keyed_running_sums`` — exact integer running sum — plus
    the Fleming-Harrington survival exp(-H) (>= the KM product-limit
    pointwise, a property the invariant test pins).  Unlike KM, d = n
    rows stay: the hazard increment is 1, not ln(0)."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    day = F.expr("unix_micros(ts) div 86400000000")
    u = ev.groupBy("user_id").agg(
        (F.max(day) - F.min(day)).alias("t"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("ev"),
    )
    a = u.groupBy("t").agg(F.count("*").alias("tot"), F.sum("ev").alias("d"))
    dt = a.filter(F.col("d") > 0).select(F.col("t").alias("death_t"), "d")
    risk = (
        F.broadcast(dt)
        .join(a.select(F.col("t").alias("at"), "tot"), F.col("at") >= F.col("death_t"))
        .groupBy("death_t", "d")
        .agg(F.sum("tot").alias("n"))
    )
    hz = risk.select(
        "death_t", "d", "n",
        F.round(F.col("d").cast("double") / F.col("n") * 100000000, 0)
        .cast("bigint")
        .alias("h8"),
    ).withColumn("k", F.lit(1))
    cum, _tot = keyed_running_sums(hz, ["k"], [F.col("death_t")], ["h8"])
    ch = F.col("cum_h8").cast("double") / 100000000
    return cum.select(
        F.col("death_t").alias("death_time"),
        F.col("n").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_deaths"),
        F.round(ch, 6).alias("cum_hazard"),
        F.round(F.exp(-ch), 6).alias("fh_survival"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 5: McNemar paired test — marginal homogeneity of two
# binary observations on the same subjects.  Here: was each user active
# in the first vs the second half of the observation window (the paired
# churn/activation question the independent two-sample tests can't ask).

_MCNEMAR_ORACLE = """
WITH f AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 300
                  THEN 1 ELSE 0 END) AS a,
         max(CASE WHEN event_type = 'click' AND value > 300
                  THEN 1 ELSE 0 END) AS b
  FROM events GROUP BY user_id
), cm AS (
  SELECT CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_first,
         CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS only_second
  FROM f
)
SELECT n_both, only_first, only_second,
       CAST((only_first - only_second) * (only_first - only_second) AS DOUBLE)
         / NULLIF(only_first + only_second, 0) AS chi2,
       CAST(greatest(abs(only_first - only_second) - 1, 0)
            * greatest(abs(only_first - only_second) - 1, 0) AS DOUBLE)
         / NULLIF(only_first + only_second, 0) AS chi2_cc
FROM cm
"""


@query("stats_mcnemar", oracle=_MCNEMAR_ORACLE)
def q_stats_mcnemar(spark, sf_dir):
    """McNemar test on the paired per-user flags (ever made a
    high-value purchase, ever made a high-value click — value > 300, a
    tail event so the flags don't saturate): chi2 = (b-c)^2/(b+c) over
    the discordant cells, plus the Edwards continuity-corrected variant
    (max(|b-c|-1, 0)^2/(b+c)) — the paired marginal-homogeneity
    question ("are high-value purchases as prevalent as high-value
    clicks among the same users") the independent two-sample tests
    can't ask.  One map-side-combinable per-user groupBy then a 1-row
    contingency aggregate.  Statistics are quotients of exact integers
    (identical IEEE division both engines); zero-discordant degenerates
    to NULL via nullif."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    f = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 300), 1)
            .otherwise(0)
        ).alias("a"),
        F.max(
            F.when((F.col("event_type") == "click") & (F.col("value") > 300), 1)
            .otherwise(0)
        ).alias("b"),
    )
    cm = f.agg(
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint").alias("n_both"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("bigint").alias("only_first"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("bigint").alias("only_second"),
    )
    diff = F.col("only_first") - F.col("only_second")
    disc = F.nullif(F.col("only_first") + F.col("only_second"), F.lit(0))
    cc = F.greatest(F.abs(diff) - 1, F.lit(0))
    return cm.select(
        "n_both", "only_first", "only_second",
        ((diff * diff).cast("double") / disc).alias("chi2"),
        ((cc * cc).cast("double") / disc).alias("chi2_cc"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 5, batch 9: Cochran's Q — the k-treatment extension of
# McNemar (marginal homogeneity of k paired binary observations on the
# same subjects; here: did each user ever produce a high-value event of
# each of the 5 types).

_COCHRAN_Q_ORACLE = """
WITH f AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click'    AND value > 300 THEN 1 ELSE 0 END) AS s1,
         max(CASE WHEN event_type = 'error'    AND value > 300 THEN 1 ELSE 0 END) AS s2,
         max(CASE WHEN event_type = 'purchase' AND value > 300 THEN 1 ELSE 0 END) AS s3,
         max(CASE WHEN event_type = 'signup'   AND value > 300 THEN 1 ELSE 0 END) AS s4,
         max(CASE WHEN event_type = 'view'     AND value > 300 THEN 1 ELSE 0 END) AS s5
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(SUM(s1) AS BIGINT) AS c1, CAST(SUM(s2) AS BIGINT) AS c2,
         CAST(SUM(s3) AS BIGINT) AS c3, CAST(SUM(s4) AS BIGINT) AS c4,
         CAST(SUM(s5) AS BIGINT) AS c5,
         CAST(SUM(s1 + s2 + s3 + s4 + s5) AS BIGINT) AS t,
         CAST(SUM((s1 + s2 + s3 + s4 + s5) * (s1 + s2 + s3 + s4 + s5))
              AS BIGINT) AS sum_r_sq
  FROM f
)
SELECT n_blocks, c1, c2, c3, c4, c5, t, sum_r_sq,
       CAST(4 * (5 * (c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5) - t * t)
            AS DOUBLE) / NULLIF(5 * t - sum_r_sq, 0) AS q_stat,
       CAST(4 AS BIGINT) AS df
FROM m
"""


@query("stats_cochran_q", oracle=_COCHRAN_Q_ORACLE)
def q_stats_cochran_q(spark, sf_dir):
    """Cochran's Q over k=5 paired binary treatments (per-user "ever
    produced a high-value event" flag per event type, value > 300 — the
    same tail flags as stats_mcnemar, of which this is the k-way
    extension): Q = (k-1)(k*SUM(C_j^2) - T^2) / (k*T - SUM(R_i^2)), an
    algebraic rearrangement of the textbook form in which EVERY term is
    an exact integer, so the statistic is a single quotient of exact
    BIGINTs (identical IEEE division both engines; all-concordant
    degenerates to NULL via nullif).  Plan: one map-side-combinable
    per-user groupBy (5 conditional maxes), then a 1-row contingency
    aggregate — two shuffles total, the second over |users| rows."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    kinds = ["click", "error", "purchase", "signup", "view"]
    flags = [
        F.max(
            F.when((F.col("event_type") == kind) & (F.col("value") > 300), 1)
            .otherwise(0)
        ).alias(f"s{i + 1}")
        for i, kind in enumerate(kinds)
    ]
    f = ev.groupBy("user_id").agg(*flags)
    r = sum(F.col(f"s{i + 1}") for i in range(5))
    m = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        *[F.sum(f"s{i + 1}").cast("bigint").alias(f"c{i + 1}") for i in range(5)],
        F.sum(r).cast("bigint").alias("t"),
        F.sum(r * r).cast("bigint").alias("sum_r_sq"),
    )
    csq = sum(F.col(f"c{i + 1}") * F.col(f"c{i + 1}") for i in range(5))
    q = (4 * (5 * csq - F.col("t") * F.col("t"))).cast("double") / F.nullif(
        5 * F.col("t") - F.col("sum_r_sq"), F.lit(0)
    )
    return m.select(
        "n_blocks", "c1", "c2", "c3", "c4", "c5", "t", "sum_r_sq",
        q.alias("q_stat"),
        F.lit(4).cast("bigint").alias("df"),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson — serial correlation of regression residuals (is the
# value ~ time trend fit leaving autocorrelated structure behind).  The
# lag runs per (event_type, user) series, so the window partitions are
# session-sized — never a per-type total-order funnel.

_DW_ORACLE = """
WITH b AS (
  SELECT event_type, user_id, ts, event_id,
         epoch_us(ts) // 3600000000 AS hr,
         CAST(value AS DECIMAL(18,4)) AS yd
  FROM events
), mins AS (
  SELECT event_type, min(hr) AS hr0 FROM b GROUP BY event_type
), j AS (
  SELECT b.event_type, user_id, ts, event_id, yd, hr - hr0 AS x
  FROM b JOIN mins ON b.event_type = mins.event_type
), mom AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS nd,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(yd) AS DOUBLE) AS sy,
         CAST(SUM(x * yd) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
  FROM j GROUP BY event_type
), ab AS (
  SELECT event_type, nd,
         (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS slope,
         (sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx) / nd
           AS intercept
  FROM mom
), r AS (
  SELECT j.event_type, j.user_id, j.ts, j.event_id,
         CAST(yd AS DOUBLE) - intercept - slope * CAST(x AS DOUBLE) AS e
  FROM j JOIN ab ON j.event_type = ab.event_type
), lagged AS (
  SELECT event_type, e,
         lag(e) OVER (PARTITION BY event_type, user_id
                      ORDER BY ts, event_id) AS ep
  FROM r
), terms AS (
  SELECT event_type,
         CAST(round(e * e, 6) AS DECIMAL(38,6)) AS s6,
         CAST(round((e - ep) * (e - ep), 6) AS DECIMAL(38,6)) AS d6,
         CAST(round(e * ep, 6) AS DECIMAL(38,6)) AS c6,
         ep
  FROM lagged
), agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(count(ep) AS BIGINT) AS n_pairs,
         CAST(SUM(s6) AS DOUBLE) AS ss,
         CAST(SUM(d6) AS DOUBLE) AS sd,
         CAST(SUM(c6) AS DOUBLE) AS sc
  FROM terms GROUP BY event_type
)
SELECT a.event_type, n, n_pairs, round(slope, 6) AS slope,
       sd / NULLIF(ss, 0) AS dw,
       sc / NULLIF(ss, 0) AS rho1
FROM agg a JOIN ab ON a.event_type = ab.event_type
"""


@query("stats_durbin_watson", oracle=_DW_ORACLE)
def q_stats_durbin_watson(spark, sf_dir):
    """Durbin-Watson serial-correlation test on the residuals of a
    per-type OLS fit of value on epoch-hour (x anchored at the per-type
    minimum hour — slope/DW are shift-invariant, and anchoring keeps
    n*sxx - sx^2 free of catastrophic cancellation no matter where the
    data sits on the epoch axis).  Moments are exact DECIMAL sums
    (x*x summed as DECIMAL(38,0) — int64-safe at any scale); slope and
    intercept are computed ONCE per type from identical doubles;
    residuals are per-row double arithmetic (same expression tree both
    engines); the DW / rho1 numerator-denominator terms are rounded to
    6 dp and summed in DECIMAL (order-independent).  The lag-1 window
    runs per (event_type, user) — session-sized partitions, never a
    per-type total-order funnel.  DW ~ 2 means no serial correlation,
    DW = 2 - 2*rho1 up to end effects (the invariant test pins it)."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    b = ev.select(
        "event_type", "user_id", "ts", "event_id",
        F.expr("unix_micros(ts) div 3600000000").alias("hr"),
        F.col("value").cast("decimal(18,4)").alias("yd"),
    )
    mins = b.groupBy("event_type").agg(F.min("hr").alias("hr0"))
    j = b.join(F.broadcast(mins), "event_type").select(
        "event_type", "user_id", "ts", "event_id", "yd",
        (F.col("hr") - F.col("hr0")).alias("x"),
    )
    mom = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum("yd").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("yd")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double").alias("sxx"),
    )
    nd, sx, sy, sxy, sxx = (F.col(c) for c in ("nd", "sx", "sy", "sxy", "sxx"))
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    ab = mom.select(
        "event_type", "nd",
        slope.alias("slope"),
        ((sy - slope * sx) / nd).alias("intercept"),
    )
    r = j.join(F.broadcast(ab), "event_type").select(
        "event_type", "user_id", "ts", "event_id",
        (
            F.col("yd").cast("double")
            - F.col("intercept")
            - F.col("slope") * F.col("x").cast("double")
        ).alias("e"),
    )
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    lagged = r.select("event_type", "e", F.lag("e").over(w).alias("ep"))
    e, ep = F.col("e"), F.col("ep")
    terms = lagged.select(
        "event_type",
        F.round(e * e, 6).cast("decimal(38,6)").alias("s6"),
        F.round((e - ep) * (e - ep), 6).cast("decimal(38,6)").alias("d6"),
        F.round(e * ep, 6).cast("decimal(38,6)").alias("c6"),
        "ep",
    )
    agg = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("ep").cast("bigint").alias("n_pairs"),
        F.sum("s6").cast("double").alias("ss"),
        F.sum("d6").cast("double").alias("sd"),
        F.sum("c6").cast("double").alias("sc"),
    )
    return agg.join(F.broadcast(ab.select("event_type", "slope")), "event_type").select(
        "event_type", "n", "n_pairs",
        F.round("slope", 6).alias("slope"),
        (F.col("sd") / F.nullif(F.col("ss"), F.lit(0))).alias("dw"),
        (F.col("sc") / F.nullif(F.col("ss"), F.lit(0))).alias("rho1"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest — the missing forecast-EVALUATION
# family: score the lag-168h (same-hour-last-week) forecast of the dense
# hourly event-count series against the lag-1h naive scaling, per type.

_MASE_ORACLE = """
WITH b AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr FROM events
), counts AS (
  SELECT event_type, hr, count(*) AS cnt FROM b GROUP BY event_type, hr
), spans AS (
  SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM b GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hr FROM spans
), g AS (
  SELECT gr.event_type, gr.hr, coalesce(c.cnt, 0) AS cnt
  FROM grid gr LEFT JOIN counts c
    ON gr.event_type = c.event_type AND gr.hr = c.hr
), lagged AS (
  SELECT event_type, cnt,
         lag(cnt, 168) OVER (PARTITION BY event_type ORDER BY hr) AS f,
         lag(cnt, 1)   OVER (PARTITION BY event_type ORDER BY hr) AS p
  FROM g
), terms AS (
  SELECT event_type, cnt, f, p,
         CASE WHEN f IS NULL THEN NULL
              WHEN cnt + f = 0 THEN CAST(0 AS DECIMAL(18,8))
              ELSE CAST(round(2.0 * abs(cnt - f) / (cnt + f), 8)
                        AS DECIMAL(18,8)) END AS sm
  FROM lagged
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(count(f) AS BIGINT) AS n_eval,
         CAST(count(p) AS BIGINT) AS n_naive,
         CAST(SUM(abs(cnt - f)) AS BIGINT) AS sae,
         CAST(SUM(cnt - f) AS BIGINT) AS se,
         CAST(SUM(abs(cnt - p)) AS BIGINT) AS san,
         CAST(SUM(sm) AS DOUBLE) AS ssm
  FROM terms GROUP BY event_type
)
SELECT event_type, n_hours, n_eval,
       CAST(sae AS DOUBLE) / n_eval AS mae_seasonal,
       CAST(san AS DOUBLE) / n_naive AS mae_naive,
       (CAST(sae AS DOUBLE) / n_eval)
         / NULLIF(CAST(san AS DOUBLE) / n_naive, 0) AS mase,
       ssm / n_eval AS smape,
       CAST(se AS DOUBLE) / n_eval AS bias
FROM agg
"""


@query("ts_seasonal_naive_mase", oracle=_MASE_ORACLE)
def q_ts_seasonal_naive_mase(spark, sf_dir):
    """Forecast backtest of the seasonal-naive model (forecast for hour
    t = the count at t-168, same hour last week) on the dense zero-filled
    hourly series per event type, scaled by the lag-1 naive baseline:
    MASE = MAE(lag-168 errors) / MAE(lag-1 errors) — < 1 means weekly
    seasonality beats pure persistence.  Plus sMAPE (per-row terms are
    quotients of exact integers, rounded to 8 dp and summed in DECIMAL;
    a 0/0 hour scores 0 by the standard convention) and signed bias.
    Errors are integers on the zero-filled grid, so every MAE is a raw
    quotient of exact BIGINTs.  The lag windows run over the
    wall-clock-bounded grid (span/1h rows per type — independent of data
    volume), partitioned by type; grid synthesis is the ts_gapfill
    explode(sequence) pattern.  Spans derive from the COUNTS relation
    (min/max hr are preserved by the cell collapse — aggregate the
    collapse, not the source).  Measured honestly (SCALE.md 6x): Spark
    does NOT auto-reuse the counts exchange, so this form still scans
    the source twice and runs level with the spans-from-raw form at
    fixture scale (~2.4 s at 10x, both sublinear); the true single-scan
    form (persist the bounded counts cells) measures SLOWER here
    (cache materialization > the cheap re-scan) and becomes the right
    trade only where a second full scan dominates — volume decides."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    b = ev.select(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("hr")
    )
    counts = b.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("cnt"))
    spans = counts.groupBy("event_type").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hr"),
    )
    g = grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = g.select(
        "event_type", "cnt",
        F.lag("cnt", 168).over(w).alias("f"),
        F.lag("cnt", 1).over(w).alias("p"),
    )
    cnt, f, p = F.col("cnt"), F.col("f"), F.col("p")
    sm = (
        F.when(f.isNull(), F.lit(None).cast("decimal(18,8)"))
        .when(cnt + f == 0, F.lit(0).cast("decimal(18,8)"))
        .otherwise(
            F.round(2.0 * F.abs(cnt - f) / (cnt + f), 8).cast("decimal(18,8)")
        )
    )
    agg = lagged.select("event_type", "cnt", "f", "p", sm.alias("sm")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.count("f").cast("bigint").alias("n_eval"),
        F.count("p").cast("bigint").alias("n_naive"),
        F.sum(F.abs(cnt - f)).cast("bigint").alias("sae"),
        F.sum(cnt - f).cast("bigint").alias("se"),
        F.sum(F.abs(cnt - p)).cast("bigint").alias("san"),
        F.sum("sm").cast("double").alias("ssm"),
    )
    mae_s = F.col("sae").cast("double") / F.col("n_eval")
    mae_n = F.col("san").cast("double") / F.col("n_naive")
    return agg.select(
        "event_type", "n_hours", "n_eval",
        mae_s.alias("mae_seasonal"),
        mae_n.alias("mae_naive"),
        (mae_s / F.nullif(mae_n, F.lit(0))).alias("mase"),
        (F.col("ssm") / F.col("n_eval")).alias("smape"),
        (F.col("se").cast("double") / F.col("n_eval")).alias("bias"),
    )


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition (the moving-average STL
# ancestor): trend = centered 2x24 MA on the dense hourly grid, seasonal
# = centered per-hour-of-day means of the detrended series, plus
# Hyndman's seasonal-strength F_s = max(0, 1 - Var(resid)/Var(detrended)).

_STL_ORACLE = """
WITH b AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr FROM events
), counts AS (
  SELECT event_type, hr, count(*) AS cnt FROM b GROUP BY event_type, hr
), spans AS (
  SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM b GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hr FROM spans
), g AS (
  SELECT gr.event_type, gr.hr, coalesce(c.cnt, 0) AS cnt
  FROM grid gr LEFT JOIN counts c
    ON gr.event_type = c.event_type AND gr.hr = c.hr
), w AS (
  SELECT event_type, hr, cnt,
         2 * SUM(cnt) OVER (PARTITION BY event_type ORDER BY hr
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
           - lag(cnt, 12)  OVER (PARTITION BY event_type ORDER BY hr)
           - lead(cnt, 12) OVER (PARTITION BY event_type ORDER BY hr) AS t48
  FROM g
), d AS (
  SELECT event_type, hr % 24 AS hod, 48 * cnt - t48 AS d48
  FROM w WHERE t48 IS NOT NULL
), sh AS (
  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_obs,
         SUM(d48) AS sd FROM d GROUP BY event_type, hod
), s6 AS (
  SELECT event_type, hod, n_obs,
         round(CAST(sd AS DOUBLE) / (48 * n_obs), 6) AS s_raw
  FROM sh
), gm AS (
  SELECT event_type,
         CAST(SUM(CAST(s_raw AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS grand
  FROM s6 GROUP BY event_type
), sc AS (
  SELECT s6.event_type, hod, n_obs, round(s_raw - grand, 6) AS seasonal
  FROM s6 JOIN gm ON s6.event_type = gm.event_type
), r AS (
  SELECT d.event_type,
         CAST(round(CAST(d48 AS DOUBLE) / 48, 6) AS DECIMAL(18,6)) AS dd,
         CAST(round((CAST(d48 AS DOUBLE) / 48) * (CAST(d48 AS DOUBLE) / 48), 6)
              AS DECIMAL(38,6)) AS dd2,
         CAST(round(CAST(d48 AS DOUBLE) / 48 - seasonal, 6)
              AS DECIMAL(18,6)) AS rr,
         CAST(round((CAST(d48 AS DOUBLE) / 48 - seasonal)
                    * (CAST(d48 AS DOUBLE) / 48 - seasonal), 6)
              AS DECIMAL(38,6)) AS rr2
  FROM d JOIN sc ON d.event_type = sc.event_type AND d.hod = sc.hod
), st AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(dd) AS DOUBLE) AS sdd, CAST(SUM(dd2) AS DOUBLE) AS sdd2,
         CAST(SUM(rr) AS DOUBLE) AS srr, CAST(SUM(rr2) AS DOUBLE) AS srr2
  FROM r GROUP BY event_type
), fs AS (
  SELECT event_type,
         greatest(CAST(0 AS DOUBLE),
                  1 - (srr2 / n - (srr / n) * (srr / n))
                    / NULLIF(sdd2 / n - (sdd / n) * (sdd / n), 0)) AS strength
  FROM st
)
SELECT sc.event_type, hod, n_obs, seasonal, round(strength, 6) AS strength
FROM sc JOIN fs ON sc.event_type = fs.event_type
"""


@query("ts_stl_classical", oracle=_STL_ORACLE)
def q_ts_stl_classical(spark, sf_dir):
    """Classical additive decomposition of the dense hourly count series
    per event type, period 24: trend is the standard even-period
    centered MA (0.5*y[-12] + y[-11..+11] + 0.5*y[+12]) / 24, carried
    x48 as the EXACT integer 2*SUM(frame) - y[-12] - y[+12] (NULL at
    the 12-row edges via lag/lead nullness); seasonal is the per
    hour-of-day mean of the detrended series, centered to sum zero
    (per-hod means are single divisions of exact integers, rounded to
    6 dp and centered against their DECIMAL-summed grand mean); plus
    Hyndman's seasonal strength F_s = max(0, 1 - Var(resid) /
    Var(detrended)) from 6 dp-rounded DECIMAL moment sums.  All windows
    run over the wall-clock-bounded grid (span/1h rows per type),
    partitioned by type; spans derive from the counts relation (min/max
    hr preserved by the cell collapse — aggregate the collapse, not the
    source; see ts_seasonal_naive_mase's docstring and SCALE.md 6x for
    the honest two-scan measurement).  Output: the 5 x 24 seasonal
    profile with per-type strength."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    b = ev.select(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("hr")
    )
    counts = b.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("cnt"))
    spans = counts.groupBy("event_type").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hr"),
    )
    g = grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    t48 = (
        2 * F.sum("cnt").over(w.rowsBetween(-12, 12))
        - F.lag("cnt", 12).over(w)
        - F.lead("cnt", 12).over(w)
    )
    d = (
        g.select("event_type", "hr", "cnt", t48.alias("t48"))
        .filter(F.col("t48").isNotNull())
        .select(
            "event_type",
            (F.col("hr") % 24).alias("hod"),
            (48 * F.col("cnt") - F.col("t48")).alias("d48"),
        )
    )
    sh = d.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("d48").alias("sd"),
    )
    s6 = sh.select(
        "event_type", "hod", "n_obs",
        F.round(F.col("sd").cast("double") / (48 * F.col("n_obs")), 6)
        .alias("s_raw"),
    )
    gm = s6.groupBy("event_type").agg(
        (
            F.sum(F.col("s_raw").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("grand")
    )
    sc = s6.join(F.broadcast(gm), "event_type").select(
        "event_type", "hod", "n_obs",
        F.round(F.col("s_raw") - F.col("grand"), 6).alias("seasonal"),
    )
    dd = F.col("d48").cast("double") / 48
    rr = dd - F.col("seasonal")
    r = d.join(F.broadcast(sc), ["event_type", "hod"]).select(
        "event_type",
        F.round(dd, 6).cast("decimal(18,6)").alias("dd"),
        F.round(dd * dd, 6).cast("decimal(38,6)").alias("dd2"),
        F.round(rr, 6).cast("decimal(18,6)").alias("rr"),
        F.round(rr * rr, 6).cast("decimal(38,6)").alias("rr2"),
    )
    st = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dd").cast("double").alias("sdd"),
        F.sum("dd2").cast("double").alias("sdd2"),
        F.sum("rr").cast("double").alias("srr"),
        F.sum("rr2").cast("double").alias("srr2"),
    )
    n, sdd, sdd2, srr, srr2 = (
        F.col(c) for c in ("n", "sdd", "sdd2", "srr", "srr2")
    )
    var_r = srr2 / n - (srr / n) * (srr / n)
    var_d = sdd2 / n - (sdd / n) * (sdd / n)
    fs = st.select(
        "event_type",
        F.greatest(F.lit(0).cast("double"), 1 - var_r / F.nullif(var_d, F.lit(0)))
        .alias("strength"),
    )
    return sc.join(F.broadcast(fs), "event_type").select(
        "event_type", "hod", "n_obs", "seasonal",
        F.round("strength", 6).alias("strength"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test — "is there ANY autocorrelation in the
# first h lags" (the multi-lag companion of stats_durbin_watson's lag-1
# residual test), over the dense hourly count series per type.

_LB_LAGS = 6

_LJUNG_BOX_ORACLE = f"""
WITH b AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr FROM events
), counts AS (
  SELECT event_type, hr, count(*) AS cnt FROM b GROUP BY event_type, hr
), spans AS (
  SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM counts GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hr FROM spans
), g AS (
  SELECT gr.event_type, gr.hr, coalesce(c.cnt, 0) AS cnt
  FROM grid gr LEFT JOIN counts c
    ON gr.event_type = c.event_type AND gr.hr = c.hr
), m AS (
  SELECT event_type, CAST(SUM(cnt) AS DOUBLE) / count(*) AS ybar,
         CAST(count(*) AS BIGINT) AS n
  FROM g GROUP BY event_type
), lagged AS (
  SELECT g.event_type, n, cnt - ybar AS dev,
         {", ".join(f"lag(cnt, {k}) OVER (PARTITION BY g.event_type ORDER BY hr) - ybar AS dev{k}" for k in range(1, _LB_LAGS + 1))}
  FROM g JOIN m ON g.event_type = m.event_type
), terms AS (
  SELECT event_type, n,
         CAST(round(dev * dev, 6) AS DECIMAL(38,6)) AS s0,
         {", ".join(f"CAST(round(dev * dev{k}, 6) AS DECIMAL(38,6)) AS t{k}" for k in range(1, _LB_LAGS + 1))}
  FROM lagged
), agg AS (
  SELECT event_type, max(n) AS n, CAST(SUM(s0) AS DOUBLE) AS s0,
         {", ".join(f"CAST(SUM(t{k}) AS DOUBLE) AS sd{k}" for k in range(1, _LB_LAGS + 1))}
  FROM terms GROUP BY event_type
), rho AS (
  SELECT event_type, n,
         {", ".join(f"sd{k} / NULLIF(s0, 0) AS r{k}" for k in range(1, _LB_LAGS + 1))}
  FROM agg
), q AS (
  SELECT event_type, n,
         {", ".join(f"r{k}" for k in range(1, _LB_LAGS + 1))},
         CAST(n * (n + 2) AS DOUBLE)
           * ({" + ".join(f"CAST(round(r{k} * r{k} / (n - {k}), 12) AS DECIMAL(18,12))" for k in range(1, _LB_LAGS + 1))})
           AS qs
  FROM rho
)
SELECT event_type, l.lg AS lag, CAST(n AS BIGINT) AS n_hours,
       round(CASE {" ".join(f"WHEN l.lg = {k} THEN r{k}" for k in range(1, _LB_LAGS + 1))} END, 6) AS rho,
       round(qs, 4) AS q_stat
FROM q CROSS JOIN (VALUES {", ".join(f"({k})" for k in range(1, _LB_LAGS + 1))}) l(lg)
"""


@query("ts_ljung_box", oracle=_LJUNG_BOX_ORACLE)
def q_ts_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau statistic Q = n(n+2) * SUM_k rho_k^2/(n-k)
    over the first 6 lag autocorrelations of the dense zero-filled
    hourly count series per event type — the any-lag companion of
    stats_durbin_watson's lag-1 residual test.  rho_k numerators /
    denominator are 6 dp-rounded deviation products summed in DECIMAL
    (order-independent); each rho is one IEEE division; the 6 Q
    contributions are 12 dp-rounded DECIMALs added in FIXED expression
    order (plain columns, not an aggregation — no summation-order
    hazard).  All lag windows share one bounded-grid shuffle
    (spans-from-counts — see SCALE.md 6x for the honest scan-count
    measurement).  Output: (type, lag) rho profile with the per-type
    Q."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    b = ev.select(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("hr")
    )
    counts = b.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("cnt"))
    spans = counts.groupBy("event_type").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hr"),
    )
    g = grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    m = g.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("ybar"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    j = g.join(F.broadcast(m), "event_type")
    dev = F.col("cnt") - F.col("ybar")
    lagged = j.select(
        "event_type", "n", dev.alias("dev"),
        *[
            (F.lag("cnt", k).over(w) - F.col("ybar")).alias(f"dev{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    terms = lagged.select(
        "event_type", "n",
        F.round(F.col("dev") * F.col("dev"), 6).cast("decimal(38,6)").alias("s0"),
        *[
            F.round(F.col("dev") * F.col(f"dev{k}"), 6)
            .cast("decimal(38,6)")
            .alias(f"t{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    agg = terms.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum("s0").cast("double").alias("s0"),
        *[F.sum(f"t{k}").cast("double").alias(f"sd{k}") for k in range(1, _LB_LAGS + 1)],
    )
    s0 = F.nullif(F.col("s0"), F.lit(0))
    rho = agg.select(
        "event_type", "n",
        *[(F.col(f"sd{k}") / s0).alias(f"r{k}") for k in range(1, _LB_LAGS + 1)],
    )
    n = F.col("n")
    contribs = [
        F.round(F.col(f"r{k}") * F.col(f"r{k}") / (n - k), 12).cast("decimal(18,12)")
        for k in range(1, _LB_LAGS + 1)
    ]
    qsum = contribs[0]
    for c in contribs[1:]:
        qsum = qsum + c
    q = rho.select(
        "event_type", "n",
        *[F.col(f"r{k}") for k in range(1, _LB_LAGS + 1)],
        ((n * (n + 2)).cast("double") * qsum).alias("qs"),
    )
    pairs = F.explode(
        F.array(*[
            F.struct(F.lit(k).alias("lag"), F.col(f"r{k}").alias("rho"))
            for k in range(1, _LB_LAGS + 1)
        ])
    )
    return q.select("event_type", "n", "qs", pairs.alias("p")).select(
        "event_type",
        F.col("p.lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_hours"),
        F.round("p.rho", 6).alias("rho"),
        F.round("qs", 4).alias("q_stat"),
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test — does the purchase share TREND with
# hour-of-day (ordered groups), the directional complement of the
# unordered chi-square/Cramers-V association tests.

_CA_TREND_ORACLE = """
WITH g AS (
  SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
  FROM events
), cell AS (
  SELECT hod, CAST(count(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS r
  FROM g GROUP BY hod
), m AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
         CAST(SUM(hod * r) AS BIGINT) AS str_,
         CAST(SUM(hod * n) AS BIGINT) AS stn,
         CAST(SUM(hod * hod * n) AS BIGINT) AS st2n
  FROM cell
)
SELECT nn AS n_total, rr AS n_success, str_ AS sum_t_r, stn AS sum_t_n,
       CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) * str_ - CAST(rr AS DOUBLE) * stn)
         * (CAST(nn AS DOUBLE) * str_ - CAST(rr AS DOUBLE) * stn)
         / NULLIF(CAST(rr AS DOUBLE) * (nn - rr)
                  * (CAST(nn AS DOUBLE) * st2n - CAST(stn AS DOUBLE) * stn), 0)
         AS z_squared
FROM m
"""


@query("stats_cochran_armitage", oracle=_CA_TREND_ORACLE)
def q_stats_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test: is the purchase share monotonically
    associated with hour-of-day (integer scores t = 0..23)?  Z^2 =
    N*(N*SUM(t*r) - R*SUM(t*n))^2 / (R*(N-R)*(N*SUM(t^2*n) -
    SUM(t*n)^2)) — every moment is an exact BIGINT from one 24-cell
    contingency collapse, the statistic a fixed chain of double
    products and one division (identical both engines; degenerate
    all-success/no-success or single-group inputs -> NULL via nullif).
    Completes the ordered-alternative side of the categorical family
    (stats_cramers_v / stats_theil_u are unordered).  Hour scores use
    the pure epoch-microsecond arithmetic of events_seasonal_dow_hour."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    g = ev.select(
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hod"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("s"),
    )
    cell = g.groupBy("hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("r"),
    )
    m = cell.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("r").cast("bigint").alias("rr"),
        F.sum(F.col("hod") * F.col("r")).cast("bigint").alias("str_"),
        F.sum(F.col("hod") * F.col("n")).cast("bigint").alias("stn"),
        F.sum(F.col("hod") * F.col("hod") * F.col("n")).cast("bigint").alias("st2n"),
    )
    nn, rr = F.col("nn").cast("double"), F.col("rr").cast("double")
    num = nn * F.col("str_") - rr * F.col("stn")
    den = rr * (F.col("nn") - F.col("rr")) * (
        nn * F.col("st2n") - F.col("stn").cast("double") * F.col("stn")
    )
    return m.select(
        F.col("nn").alias("n_total"),
        F.col("rr").alias("n_success"),
        F.col("str_").alias("sum_t_r"),
        F.col("stn").alias("sum_t_n"),
        (nn * num * num / F.nullif(den, F.lit(0))).alias("z_squared"),
    )


# ---------------------------------------------------------------------------
# Page's trend test — ordered alternative for repeated measures (does
# per-user mean activity TREND across the week), the monotone companion
# of stats_friedman exactly as stats_cochran_armitage is the monotone
# companion of the chi-square association tests.

_PAGE_ORACLE = """
WITH m AS (
  SELECT user_id,
         (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mv
  FROM events GROUP BY user_id, (epoch_us(ts) // 86400000000 + 4) % 7
), complete AS (
  SELECT user_id FROM m GROUP BY user_id HAVING count(*) = 7
), r AS (
  SELECT m.user_id, dow,
         2 * rank() OVER (PARTITION BY m.user_id ORDER BY mv)
           + count(*) OVER (PARTITION BY m.user_id, mv) - 1 AS r2
  FROM m JOIN complete ON m.user_id = complete.user_id
), agg AS (
  SELECT CAST(count(*) / 7 AS BIGINT) AS b,
         CAST(SUM((dow + 1) * r2) AS BIGINT) AS l2
  FROM r
)
SELECT b AS n_blocks,
       CAST(l2 AS DOUBLE) / 2 AS l_stat,
       CAST(b * 7 * 64 AS DOUBLE) / 4 AS e_l,
       (CAST(l2 AS DOUBLE) / 2 - CAST(b * 7 * 64 AS DOUBLE) / 4)
         / NULLIF(sqrt(CAST(b AS DOUBLE) * 49 * 8 * 48 / 144), 0)
         AS z_untied
FROM agg
"""


@query("stats_page_trend", oracle=_PAGE_ORACLE)
def q_stats_page_trend(spark, sf_dir):
    """Page's L test for an ordered alternative across k = 7 day-of-week
    treatments within complete user blocks: L = SUM_j j * R_j over
    within-block average ranks of the per-(user, dow) mean value.  Ranks
    use the Friedman doubled-integer trick (2*rank + tie_count - 1 is an
    exact integer average rank x2), so L is an exact integer halved
    once; E[L] = b*k*(k+1)^2/4 and the UNTIED-variance normal
    approximation z = (L - E)/sqrt(b*k^2*(k+1)*(k^2-1)/144) — ties make
    z slightly conservative (documented; L and E stay exact, and the
    fixture's continuous means make exact mean-ties measure-zero).
    Plan: one (user, dow) collapse, a complete-block semi filter, 7-row
    per-user rank windows, one integer aggregate.  Day-of-week scores
    use the epoch-integer calendar arithmetic ((day+4) % 7)."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    dow = ((F.expr("unix_micros(ts) div 86400000000") + 4) % 7).alias("dow")
    m = ev.select("user_id", dow, "value").groupBy("user_id", "dow").agg(
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
         / F.count(F.lit(1))).alias("mv")
    )
    complete = m.groupBy("user_id").agg(F.count(F.lit(1)).alias("k")).filter(
        F.col("k") == 7
    ).select("user_id")
    j = m.join(complete, "user_id")
    wr = Window.partitionBy("user_id").orderBy("mv")
    wt = Window.partitionBy("user_id", "mv")
    r = j.select(
        "dow",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).alias("r2"),
    )
    agg = r.agg(
        (F.count(F.lit(1)) / 7).cast("bigint").alias("b"),
        F.sum((F.col("dow") + 1) * F.col("r2")).cast("bigint").alias("l2"),
    )
    b, l2 = F.col("b"), F.col("l2")
    e_l = (b * 7 * 64).cast("double") / 4
    var = b.cast("double") * 49 * 8 * 48 / 144
    return agg.select(
        b.alias("n_blocks"),
        (l2.cast("double") / 2).alias("l_stat"),
        e_l.alias("e_l"),
        ((l2.cast("double") / 2 - e_l) / F.nullif(F.sqrt(var), F.lit(0)))
        .alias("z_untied"),
    )


# ---------------------------------------------------------------------------
# Two-way factorial ANOVA (cell-means decomposition) — value ~ dow x
# hour-block, completing the ANOVA family (stats_anova_oneway is the
# single-factor form).

_ANOVA2_ORACLE = """
WITH g AS (
  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS a,
         (epoch_us(ts) // 3600000000) % 24 // 6 AS b,
         CAST(value AS DECIMAL(18,4)) AS y
  FROM events
), cell AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n,
         SUM(y) AS sd, SUM(y * y) AS sd2
  FROM g GROUP BY a, b
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(sd) AS DOUBLE) AS ss, CAST(SUM(sd2) AS DOUBLE) AS ss2,
         CAST(SUM(sd) AS DOUBLE) / SUM(n) AS gm
  FROM cell
), am AS (
  SELECT a, SUM(n) AS na, CAST(SUM(sd) AS DOUBLE) / SUM(n) AS ma
  FROM cell GROUP BY a
), bm AS (
  SELECT b, SUM(n) AS nb, CAST(SUM(sd) AS DOUBLE) / SUM(n) AS mb
  FROM cell GROUP BY b
), parts AS (
  SELECT
    (SELECT CAST(SUM(CAST(round(n * (CAST(sd AS DOUBLE) / n - gm)
                          * (CAST(sd AS DOUBLE) / n - gm), 6)
                          AS DECIMAL(38,6))) AS DOUBLE)
     FROM cell, tot) AS ss_cells,
    (SELECT CAST(SUM(CAST(round(na * (ma - gm) * (ma - gm), 6)
                          AS DECIMAL(38,6))) AS DOUBLE)
     FROM am, tot) AS ss_a,
    (SELECT CAST(SUM(CAST(round(nb * (mb - gm) * (mb - gm), 6)
                          AS DECIMAL(38,6))) AS DOUBLE)
     FROM bm, tot) AS ss_b,
    (SELECT ss2 - ss * ss / nn FROM tot) AS ss_total,
    (SELECT nn FROM tot) AS nn,
    (SELECT count(*) FROM cell) AS n_cells
)
SELECT CAST(nn AS BIGINT) AS n,
       round(ss_total, 4) AS ss_total,
       round(ss_cells, 4) AS ss_cells,
       round(ss_a, 4) AS ss_dow,
       round(ss_b, 4) AS ss_hour_block,
       round(ss_cells - ss_a - ss_b, 4) AS ss_interaction,
       (ss_cells / (n_cells - 1))
         / NULLIF((ss_total - ss_cells) / (nn - n_cells), 0) AS f_cells
FROM parts
"""


@query("stats_two_way_anova", oracle=_ANOVA2_ORACLE)
def q_stats_two_way_anova(spark, sf_dir):
    """Two-way factorial decomposition of value over dow x 6-hour-block
    cells: SS_total (from exact decimal moments), SS_cells, the factor
    sums SS_dow / SS_hour_block, their difference as the interaction
    term (the standard unbalanced-design caveat applies and is the
    documented convention: with unequal cell sizes the factor sums are
    the WEIGHTED marginal decomposition, not Type-III), and the
    cells-model F statistic.  Cell/margin means are single divisions of
    exact DECIMAL sums; the <= 28 per-cell SS terms are 6 dp-rounded
    DECIMAL sums (order-independent); sqrt-free.  One data-scale
    collapse; everything downstream is cell-relation-sized."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    g = ev.select(
        ((F.expr("unix_micros(ts) div 86400000000") + 4) % 7).alias("a"),
        ((F.expr("unix_micros(ts) div 3600000000") % 24) / 6)
        .cast("bigint").alias("b"),
        F.col("value").cast("decimal(18,4)").alias("y"),
    )
    cell = g.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").alias("sd"),
        F.sum(F.col("y") * F.col("y")).alias("sd2"),
    )
    tot = cell.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("sd").cast("double").alias("ss"),
        F.sum("sd2").cast("double").alias("ss2"),
        (F.sum("sd").cast("double") / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    am = cell.groupBy("a").agg(
        F.sum("n").alias("na"),
        (F.sum("sd").cast("double") / F.sum("n")).alias("ma"),
    )
    bm = cell.groupBy("b").agg(
        F.sum("n").alias("nb"),
        (F.sum("sd").cast("double") / F.sum("n")).alias("mb"),
    )

    def ss_of(rel, ncol, mcol):
        dev = F.col(mcol) - F.col("gm")
        return (
            rel.crossJoin(F.broadcast(tot.select("gm")))
            .select(
                F.round(F.col(ncol) * dev * dev, 6)
                .cast("decimal(38,6)").alias("t")
            )
            .agg(F.sum("t").cast("double").alias("v"))
        )

    cells_dev = cell.select(
        "n", (F.col("sd").cast("double") / F.col("n")).alias("cm")
    )
    ss_cells = ss_of(cells_dev, "n", "cm")
    ss_a = ss_of(am, "na", "ma")
    ss_b = ss_of(bm, "nb", "mb")
    base = tot.crossJoin(F.broadcast(ss_cells.select(F.col("v").alias("sc")))) \
        .crossJoin(F.broadcast(ss_a.select(F.col("v").alias("sa")))) \
        .crossJoin(F.broadcast(ss_b.select(F.col("v").alias("sb"))))
    ss_total = F.col("ss2") - F.col("ss") * F.col("ss") / F.col("nn")
    return base.select(
        F.col("nn").alias("n"),
        F.round(ss_total, 4).alias("ss_total"),
        F.round(F.col("sc"), 4).alias("ss_cells"),
        F.round(F.col("sa"), 4).alias("ss_dow"),
        F.round(F.col("sb"), 4).alias("ss_hour_block"),
        F.round(F.col("sc") - F.col("sa") - F.col("sb"), 4)
        .alias("ss_interaction"),
        (
            (F.col("sc") / (F.col("n_cells") - 1))
            / F.nullif(
                (ss_total - F.col("sc")) / (F.col("nn") - F.col("n_cells")),
                F.lit(0),
            )
        ).alias("f_cells"),
    )


# ---------------------------------------------------------------------------
# Round 12: exact and stratified contingency inference — Fisher's exact
# test (small-sample 2x2), the G-test (likelihood-ratio chi-square),
# Bartlett's variance-homogeneity test (parametric twin of the
# Brown-Forsythe id), and the Cochran-Mantel-Haenszel stratified 2x2
# test.  All four follow the family conventions: exact integer counts /
# DECIMAL moments in the data-scale pass, scalar IEEE arithmetic on the
# aggregate row, trailing 6 dp rounds.

_DOW_SQL = "((epoch_us(ts) // 86400000000 + 4) % 7)"
_WK_SQL = f"CASE WHEN {_DOW_SQL} IN (6, 0) THEN 1 ELSE 0 END"

# ln(x!) both engines: exact ln(n!) literals for x <= 12 (ln applied to
# the same exact-integer double on both engines), Stirling with three
# correction terms beyond (remainder < 1e-11 for x >= 13; the p-value's
# 6 dp round has ~1e-9 headroom).  Spark has no lgamma builtin, so the
# SAME expression tree runs on both engines rather than lgamma-vs-
# Stirling.
_FACTS = [1, 1, 2, 6, 24, 120, 720, 5040, 40320, 362880,
          3628800, 39916800, 479001600]
_HALF_LN_2PI = 0.9189385332046727


def _lf_col(x):
    """ln(x!) as a Spark Column over a nonnegative integer Column."""
    xd = x.cast("double")
    stir = (
        (xd + 0.5) * F.log(xd) - xd + F.lit(_HALF_LN_2PI)
        + 1.0 / (12.0 * xd)
        - 1.0 / (360.0 * xd * xd * xd)
        + 1.0 / (1260.0 * xd * xd * xd * xd * xd)
    )
    expr = stir
    for v in range(len(_FACTS) - 1, -1, -1):
        expr = F.when(x == v, F.log(F.lit(float(_FACTS[v])))).otherwise(expr)
    return expr


def _lf_sql(x: str) -> str:
    """The identical ln(x!) expression as DuckDB SQL text."""
    stir = (
        f"((({x}) + 0.5) * ln(CAST(({x}) AS DOUBLE)) - ({x}) "
        f"+ {_HALF_LN_2PI} + 1.0/(12.0*({x})) "
        f"- 1.0/(360.0*({x})*({x})*({x})) "
        f"+ 1.0/(1260.0*({x})*({x})*({x})*({x})*({x})))"
    )
    cases = " ".join(
        f"WHEN ({x}) = {v} THEN ln(CAST({_FACTS[v]} AS DOUBLE))"
        for v in range(len(_FACTS))
    )
    return f"(CASE {cases} ELSE {stir} END)"


def _fisher_lnp_sql() -> str:
    lf = _lf_sql
    return (
        f"{lf('r1')} + {lf('r2')} + {lf('c1')} + {lf('c2')} - {lf('n')} "
        f"- {lf('k')} - {lf('r1 - k')} - {lf('c1 - k')} "
        f"- {lf('r2 - c1 + k')}"
    )


_FISHER_ORACLE = f"""
WITH d AS (
  SELECT {_WK_SQL} AS wk,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS er
  FROM events
), c AS (
  SELECT CAST(SUM(wk * er) AS BIGINT) AS n11,
         CAST(SUM(wk * (1 - er)) AS BIGINT) AS n12,
         CAST(SUM((1 - wk) * er) AS BIGINT) AS n21,
         CAST(SUM((1 - wk) * (1 - er)) AS BIGINT) AS n22
  FROM d
), m AS (
  SELECT n11, n12, n21, n22,
         n11 + n12 AS r1, n21 + n22 AS r2,
         n11 + n21 AS c1, n12 + n22 AS c2,
         n11 + n12 + n21 + n22 AS n
  FROM c
)
SELECT n11, n12, n21, n22,
       round(CAST(n11 AS DOUBLE) * n22 / (CAST(n12 AS DOUBLE) * n21), 6)
         AS odds_ratio,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(generate_series(n11, least(r1, c1)),
                        k -> exp({_fisher_lnp_sql()}))),
         (acc, x) -> acc + x), 6) AS p_right
FROM m
"""


@query("stats_fisher_exact_2x2", oracle=_FISHER_ORACLE)
def q_stats_fisher_exact_2x2(spark, sf_dir):
    """Fisher's EXACT test (right tail) for the weekend x error 2x2
    table: p = SUM_{{k >= n11}} C(r1,k)C(r2,c1-k)/C(n,c1) — the exact
    small-sample twin of drift_chi2.  The hypergeometric terms are
    exp() of ln-factorial sums (exact ln(n!) literals to 12, Stirling
    beyond — same expression tree on both engines, Spark has no
    lgamma), folded IN SEQUENCE ORDER over sequence(n11, min(r1, c1))
    so the float sum is order-identical across engines.  One data-scale
    aggregate produces the four counts; everything downstream is one
    scalar row whose fold array has min(r1, c1) - n11 + 1 elements —
    bounded by the ERROR-EVENT count, so the operator raises past 1e6
    terms (Fisher's exact test is a small-table procedure; past that
    bound the chi-square/G-test ids are the right tool).  100-TB story:
    the guard, plus the count aggregate being the only data pass."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    dow = (F.expr("unix_micros(ts) div 86400000000") + 4) % 7
    wk = F.when(dow.isin(6, 0), 1).otherwise(0)
    er = F.when(F.col("event_type") == "error", 1).otherwise(0)
    c = ev.agg(
        F.sum(wk * er).cast("bigint").alias("n11"),
        F.sum(wk * (1 - er)).cast("bigint").alias("n12"),
        F.sum((1 - wk) * er).cast("bigint").alias("n21"),
        F.sum((1 - wk) * (1 - er)).cast("bigint").alias("n22"),
    )
    # the guard below needs the four counts at plan-construction time;
    # collect them ONCE and re-inject as literals so the data-scale scan
    # is not re-executed when the returned plan runs (ADVICE r12)
    row = c.select(
        "n11", "n12", "n21", "n22",
        (F.col("n11") + F.col("n12")).alias("r1"),
        (F.col("n21") + F.col("n22")).alias("r2"),
        (F.col("n11") + F.col("n21")).alias("c1"),
        (F.col("n12") + F.col("n22")).alias("c2"),
        (F.col("n11") + F.col("n12") + F.col("n21") + F.col("n22")).alias("n"),
    ).first()
    m = spark.createDataFrame(
        [tuple(row[k] for k in
               ("n11", "n12", "n21", "n22", "r1", "r2", "c1", "c2", "n"))],
        "n11 bigint, n12 bigint, n21 bigint, n22 bigint, "
        "r1 bigint, r2 bigint, c1 bigint, c2 bigint, n bigint",
    )
    terms = min(row["r1"], row["c1"]) - row["n11"] + 1
    if terms > 1_000_000:
        raise ValueError(
            f"stats_fisher_exact_2x2: {terms:,} hypergeometric terms — "
            "Fisher's exact test is a small-table procedure; use "
            "drift_chi2 / stats_g_test at this scale"
        )

    def lnp(k):
        kk = k.cast("bigint")
        return (
            _lf_col(F.col("r1")) + _lf_col(F.col("r2"))
            + _lf_col(F.col("c1")) + _lf_col(F.col("c2"))
            - _lf_col(F.col("n")) - _lf_col(kk)
            - _lf_col(F.col("r1") - kk) - _lf_col(F.col("c1") - kk)
            - _lf_col(F.col("r2") - F.col("c1") + kk)
        )

    p = F.aggregate(
        F.sequence(F.col("n11"), F.least(F.col("r1"), F.col("c1"))),
        F.lit(0.0),
        lambda acc, k: acc + F.exp(lnp(k)),
    )
    return m.select(
        "n11", "n12", "n21", "n22",
        F.round(
            F.col("n11").cast("double") * F.col("n22")
            / (F.col("n12").cast("double") * F.col("n21")), 6
        ).alias("odds_ratio"),
        F.round(p, 6).alias("p_right"),
    )


_GTEST_ORACLE = f"""
WITH d AS (
  SELECT event_type, {_WK_SQL} AS wk FROM events
), c AS (
  SELECT event_type, wk, count(*) AS o FROM d GROUP BY 1, 2
), r AS (
  SELECT event_type, SUM(o) AS rt FROM c GROUP BY 1
), k AS (
  SELECT wk, SUM(o) AS ct FROM c GROUP BY 1
), t AS (
  SELECT SUM(o) AS n FROM c
)
SELECT CAST(t.n AS BIGINT) AS n,
       CAST((count(DISTINCT c.event_type) - 1)
            * (count(DISTINCT c.wk) - 1) AS BIGINT) AS df,
       round(2 * CAST(SUM(CAST(round(
               o * ln(CAST(o AS DOUBLE) * t.n / (r.rt * k.ct)), 6)
             AS DECIMAL(38,6))) AS DOUBLE), 6)
         AS g_statistic
FROM c JOIN r USING (event_type) JOIN k USING (wk) CROSS JOIN t
GROUP BY t.n
"""


@query("stats_g_test", oracle=_GTEST_ORACLE)
def q_stats_g_test(spark, sf_dir):
    """G-test (likelihood-ratio chi-square) of independence for the
    event_type x weekend table: G = 2 SUM O ln(O/E), E = R*C/N — the
    LR twin of drift_chi2 (additive across partitions/strata, which
    Pearson's X2 is not; empty cells contribute zero by construction
    because the cell relation only carries observed combos on both
    engines).  Exact integer cell counts from one data-scale aggregate;
    the G fold spans r*c <= 10 cell terms, rounded at 6 dp."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    dow = (F.expr("unix_micros(ts) div 86400000000") + 4) % 7
    wk = F.when(dow.isin(6, 0), 1).otherwise(0)
    c = ev.select("event_type", wk.alias("wk")).groupBy(
        "event_type", "wk"
    ).agg(F.count(F.lit(1)).alias("o"))
    r = c.groupBy("event_type").agg(F.sum("o").alias("rt"))
    k = c.groupBy("wk").agg(F.sum("o").alias("ct"))
    t = c.agg(F.sum("o").alias("n"))
    j = (
        c.join(F.broadcast(r), "event_type")
        .join(F.broadcast(k), "wk")
        .crossJoin(F.broadcast(t))
    )
    # family convention (Bartlett/CMH/BP): per-cell terms rounded to 6 dp
    # and summed as DECIMAL(38,6) so the fold is order-free across
    # engines' different partial-aggregation orders (ADVICE r12)
    cell = F.col("o") * F.log(
        F.col("o").cast("double") * F.col("n") / (F.col("rt") * F.col("ct"))
    )
    return j.groupBy("n").agg(
        ((F.count_distinct(F.col("event_type")) - 1)
         * (F.count_distinct(F.col("wk")) - 1)).cast("bigint").alias("df"),
        F.round(
            2 * F.sum(F.round(cell, 6).cast("decimal(38,6)")).cast("double"),
            6,
        ).alias("g_statistic"),
    ).select(F.col("n").cast("bigint").alias("n"), "df", "g_statistic")


_BARTLETT_ORACLE = """
WITH g AS (
  SELECT event_type, count(*) AS n,
         SUM(CAST(value AS DECIMAL(18,4))) AS s,
         SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS ss
  FROM events GROUP BY 1
), v AS (
  SELECT n,
         (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS var
  FROM g
), agg AS (
  SELECT SUM(n) AS nn, count(*) AS k,
         CAST(SUM(CAST(round((n - 1) * var, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS pooled_num,
         CAST(SUM(CAST(round((n - 1) * ln(var), 6) AS DECIMAL(38,6)))
              AS DOUBLE) AS wln,
         CAST(SUM(CAST(round(1.0 / (n - 1), 12) AS DECIMAL(38,12)))
              AS DOUBLE) AS inv
  FROM v
)
SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
       round(pooled_num / (nn - k), 6) AS pooled_var,
       round(((nn - k) * ln(pooled_num / (nn - k)) - wln)
             / (1 + (inv - 1.0 / (nn - k)) / (3 * (k - 1))), 6)
         AS bartlett_t
FROM agg
"""


@query("stats_bartlett", oracle=_BARTLETT_ORACLE)
def q_stats_bartlett(spark, sf_dir):
    """Bartlett's variance-homogeneity test across event_type groups —
    the parametric (normal-theory) twin of stats_levene_brown_forsythe:
    T = [(N-k) ln Sp2 - SUM (n_i-1) ln S_i2] / C with the standard
    correction C.  Group variances come from exact DECIMAL moments; the
    k = 5 per-group terms are 6 dp-rounded DECIMAL sums (order-free
    across engines); 1/(n_i-1) keeps 12 dp so the correction term
    retains precision at large n_i.  One data-scale aggregate, then a
    5-row fold."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    y = F.col("value").cast("decimal(18,4)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("s"),
        F.sum(y * y).alias("ss"),
    )
    n = F.col("n")
    var = (
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / n)
        / (n - 1)
    )
    v = g.select("n", var.alias("var"))
    agg = v.agg(
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.round((n - 1) * F.col("var"), 6).cast("decimal(38,6)"))
        .cast("double").alias("pooled_num"),
        F.sum(F.round((n - 1) * F.log("var"), 6).cast("decimal(38,6)"))
        .cast("double").alias("wln"),
        F.sum(F.round(1.0 / (n - 1), 12).cast("decimal(38,12)"))
        .cast("double").alias("inv"),
    )
    nn, k = F.col("nn"), F.col("k")
    sp2 = F.col("pooled_num") / (nn - k)
    return agg.select(
        nn.cast("bigint").alias("n"),
        k.cast("bigint").alias("k_groups"),
        F.round(sp2, 6).alias("pooled_var"),
        F.round(
            ((nn - k) * F.log(sp2) - F.col("wln"))
            / (1 + (F.col("inv") - 1.0 / (nn - k)) / (3 * (k - 1))),
            6,
        ).alias("bartlett_t"),
    )


_CMH_ORACLE = f"""
WITH d AS (
  SELECT event_type AS stratum, {_WK_SQL} AS wk,
         CASE WHEN value >= 250 THEN 1 ELSE 0 END AS hi
  FROM events
), s AS (
  SELECT stratum,
         count(*) AS n,
         SUM(wk) AS r1, SUM(hi) AS c1, SUM(wk * hi) AS a
  FROM d GROUP BY 1
), t AS (
  SELECT stratum, n, r1, c1, a,
         CAST(r1 AS DOUBLE) * c1 / n AS e,
         CAST(r1 AS DOUBLE) * (n - r1) * c1 * (n - c1)
           / (CAST(n AS DOUBLE) * n * (n - 1)) AS v
  FROM s
)
SELECT CAST(count(*) AS BIGINT) AS k_strata,
       CAST(SUM(a) AS BIGINT) AS sum_a,
       round(CAST(SUM(CAST(round(a - e, 6) AS DECIMAL(38,6))) AS DOUBLE), 6)
         AS sum_dev,
       round(POWER(CAST(SUM(CAST(round(a - e, 6) AS DECIMAL(38,6)))
                        AS DOUBLE), 2)
             / CAST(SUM(CAST(round(v, 6) AS DECIMAL(38,6))) AS DOUBLE), 6)
         AS cmh_statistic
FROM t
"""


@query("stats_cmh", oracle=_CMH_ORACLE)
def q_stats_cmh(spark, sf_dir):
    """Cochran-Mantel-Haenszel test for weekend x high-value association
    stratified by event_type (2x2xK, uncorrected): CMH =
    (SUM_i (a_i - E_i))^2 / SUM_i V_i — the stratified-confounding
    analysis drift_chi2 can't do.  Per-stratum counts are exact ints;
    E and V are per-stratum doubles (the V product runs in DOUBLE —
    the int64 form overflows past ~1e5-row strata); the K = 5 stratum
    terms are 6 dp-rounded DECIMAL sums (order-free)."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    dow = (F.expr("unix_micros(ts) div 86400000000") + 4) % 7
    wk = F.when(dow.isin(6, 0), 1).otherwise(0)
    hi = F.when(F.col("value") >= 250, 1).otherwise(0)
    s = ev.select(
        F.col("event_type").alias("stratum"), wk.alias("wk"), hi.alias("hi")
    ).groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("wk").alias("r1"),
        F.sum("hi").alias("c1"),
        F.sum(F.col("wk") * F.col("hi")).alias("a"),
    )
    n = F.col("n")
    e = F.col("r1").cast("double") * F.col("c1") / n
    v = (
        F.col("r1").cast("double") * (n - F.col("r1")) * F.col("c1")
        * (n - F.col("c1")) / (n.cast("double") * n * (n - 1))
    )
    t = s.select("a", e.alias("e"), v.alias("v"))
    agg = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum(F.round(F.col("a") - F.col("e"), 6).cast("decimal(38,6)"))
        .cast("double").alias("dev"),
        F.sum(F.round(F.col("v"), 6).cast("decimal(38,6)"))
        .cast("double").alias("vv"),
    )
    return agg.select(
        "k_strata", "sum_a",
        F.round(F.col("dev"), 6).alias("sum_dev"),
        F.round(F.pow(F.col("dev"), 2) / F.col("vv"), 6)
        .alias("cmh_statistic"),
    )


_BP_ORACLE = """
WITH base AS (
  SELECT CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS x, value AS y
  FROM events
), m1 AS (
  SELECT count(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(x * CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sxy
  FROM base
), fit AS (
  SELECT n, sx, sxx,
         (n * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
         (sy - (n * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n AS a
  FROM m1
), m2 AS (
  SELECT f.n, f.sx, f.sxx, f.b,
         CAST(SUM(CAST(round((y - f.a - f.b * x) * (y - f.a - f.b * x), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS se2,
         CAST(SUM(CAST(round(x * (y - f.a - f.b * x) * (y - f.a - f.b * x), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS sxe2,
         CAST(SUM(CAST(round(POWER((y - f.a - f.b * x) * (y - f.a - f.b * x), 2), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS se2e2
  FROM base CROSS JOIN fit f
  GROUP BY f.n, f.sx, f.sxx, f.b
)
SELECT CAST(n AS BIGINT) AS n,
       round(b, 6) AS slope,
       round(n * POWER(sxe2 - CAST(sx AS DOUBLE) * se2 / n, 2)
             / ((sxx - CAST(sx AS DOUBLE) * sx / n)
                * (se2e2 - se2 * se2 / n)), 6) AS lm_statistic,
       CAST(1 AS BIGINT) AS df
FROM m2
"""


@query("stats_breusch_pagan", oracle=_BP_ORACLE)
def q_stats_breusch_pagan(spark, sf_dir):
    """Breusch-Pagan heteroscedasticity test for value ~ hour-of-day:
    fit the OLS line from exact first-pass moments (integer x sums,
    DECIMAL y sums — a and b are identical doubles on both engines),
    then LM = n·R² of the squared-residual-on-x auxiliary regression,
    with the second-pass sums per-row-rounded at 6 dp into DECIMAL so
    the fold is order-free.  Two data passes, zero joins (the fit row
    broadcast-crosses the second pass); every moment is scan-local."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    base = ev.select(
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("x"),
        F.col("value").alias("y"),
    )
    yd = F.col("y").cast("decimal(18,4)")
    m1 = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(F.col("x") * yd).cast("double").alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    b = (n * F.col("sxy") - sx * F.col("sy")) / (
        n.cast("double") * sxx - sx.cast("double") * sx
    )
    fit = m1.select(
        "n", "sx", "sxx", b.alias("b"),
        ((F.col("sy") - b * sx) / n).alias("a"),
    )
    e = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    e2 = e * e
    m2 = base.crossJoin(F.broadcast(fit)).groupBy("n", "sx", "sxx", "b").agg(
        F.sum(F.round(e2, 6).cast("decimal(38,6)")).cast("double").alias("se2"),
        F.sum(F.round(F.col("x") * e2, 6).cast("decimal(38,6)"))
        .cast("double").alias("sxe2"),
        F.sum(F.round(F.pow(e2, 2), 6).cast("decimal(38,6)"))
        .cast("double").alias("se2e2"),
    )
    sxd = F.col("sx").cast("double")
    lm = (
        F.col("n") * F.pow(F.col("sxe2") - sxd * F.col("se2") / F.col("n"), 2)
        / (
            (F.col("sxx") - sxd * F.col("sx") / F.col("n"))
            * (F.col("se2e2") - F.col("se2") * F.col("se2") / F.col("n"))
        )
    )
    return m2.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("b"), 6).alias("slope"),
        F.round(lm, 6).alias("lm_statistic"),
        F.lit(1).cast("bigint").alias("df"),
    )


_MOOD_ORACLE = """
WITH med AS (
  SELECT quantile_cont(value, 0.5) AS m FROM events
), c AS (
  SELECT event_type,
         count(*) AS n,
         SUM(CASE WHEN value > (SELECT m FROM med) THEN 1 ELSE 0 END) AS above
  FROM events GROUP BY 1
), tot AS (
  SELECT SUM(n) AS nn, SUM(above) AS ta, count(*) AS k FROM c
)
SELECT CAST(t.k AS BIGINT) AS k_groups,
       round((SELECT m FROM med), 6) AS grand_median,
       CAST(t.k - 1 AS BIGINT) AS df,
       round(CAST(SUM(CAST(round(
         POWER(above - n * (CAST(t.ta AS DOUBLE) / t.nn), 2)
           / (n * (CAST(t.ta AS DOUBLE) / t.nn))
         + POWER((n - above) - n * (1 - CAST(t.ta AS DOUBLE) / t.nn), 2)
           / (n * (1 - CAST(t.ta AS DOUBLE) / t.nn)), 6)
       AS DECIMAL(38,6))) AS DOUBLE), 6) AS chi2_statistic
FROM c CROSS JOIN tot t
GROUP BY t.k, t.nn, t.ta
"""


@query("stats_mood_median", oracle=_MOOD_ORACLE)
def q_stats_mood_median(spark, sf_dir):
    """Mood's median test across event_type groups: classify every row
    against the GRAND exact interpolated median, then Pearson chi2 on
    the k x 2 above/not-above table — the nonparametric location test
    that tolerates heavy tails where ANOVA assumes normality (pairs
    with stats_kruskal_wallis the way Bartlett pairs with BF).  Exact
    integer cell counts from one pass (the grand median broadcast
    back); the k = 5 chi2 terms are a scalar fold rounded at 6 dp."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    med = ev.agg(F.expr("percentile(value, 0.5)").alias("m"))
    c = ev.crossJoin(F.broadcast(med)).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") > F.col("m"), 1).otherwise(0))
        .alias("above"),
        F.first("m").alias("m"),
    )
    tot = c.agg(
        F.sum("n").alias("nn"), F.sum("above").alias("ta"),
        F.count(F.lit(1)).alias("k"), F.first("m").alias("m"),
    )
    j = c.select("event_type", "n", "above").crossJoin(F.broadcast(tot))
    p = F.col("ta").cast("double") / F.col("nn")
    ea = F.col("n") * p
    eb = F.col("n") * (1 - p)
    term = (
        F.pow(F.col("above") - ea, 2) / ea
        + F.pow((F.col("n") - F.col("above")) - eb, 2) / eb
    )
    # per-group terms rounded into DECIMAL before the sum — order-free
    # fold across engines (family convention, ADVICE r12)
    return j.groupBy("k", "nn", "ta", "m").agg(
        F.round(
            F.sum(F.round(term, 6).cast("decimal(38,6)")).cast("double"), 6
        ).alias("chi2")
    ).select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.round(F.col("m"), 6).alias("grand_median"),
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.col("chi2").alias("chi2_statistic"),
    )


_SPECTRAL_TWO_PI = 6.283185307179586
_SPECTRAL_K = 8


def _spectral_harmonics_sql() -> str:
    return ", ".join(str(k) for k in range(1, _SPECTRAL_K + 1))


_SPECTRAL_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS t, count(*) AS cnt
  FROM events GROUP BY 1, 2
), terms AS (
  SELECT event_type, k, cnt,
         CAST(round(cnt * cos({_SPECTRAL_TWO_PI} * k * (t % 24) / 24.0), 6)
              AS DECIMAL(18,6)) AS ct,
         CAST(round(cnt * sin({_SPECTRAL_TWO_PI} * k * (t % 24) / 24.0), 6)
              AS DECIMAL(18,6)) AS st
  FROM hourly CROSS JOIN (SELECT unnest([{_spectral_harmonics_sql()}]) AS k)
), bins AS (
  SELECT event_type, k,
         POWER(CAST(SUM(ct) AS DOUBLE), 2)
           + POWER(CAST(SUM(st) AS DOUBLE), 2) AS power
  FROM terms GROUP BY 1, 2
), tot AS (
  SELECT event_type, SUM(power) AS tp FROM bins GROUP BY 1
)
SELECT b.event_type,
       CAST({_SPECTRAL_K} AS BIGINT) AS n_bins,
       round(SUM(CASE WHEN b.power > 0
                 THEN -(b.power / t.tp) * ln(b.power / t.tp) END)
             / ln(CAST({_SPECTRAL_K} AS DOUBLE)), 6) AS spectral_entropy,
       round(MAX(b.power / t.tp), 6) AS top_bin_share
FROM bins b JOIN tot t USING (event_type)
GROUP BY b.event_type
"""


@query("ts_spectral_entropy", oracle=_SPECTRAL_ORACLE)
def q_ts_spectral_entropy(spark, sf_dir):
    """Spectral entropy of each event type's hourly-count series over
    the first 8 daily harmonics (Goertzel bins at k/24 cycles per hour
    — no FFT): H = -SUM p_k ln p_k / ln K over normalized bin powers,
    plus the top bin's share.  Near 1 for broadband (flat) traffic,
    near 0 when one periodicity dominates — the multi-frequency
    generalization of ts_periodogram_bin's single weekly bin.  The trig
    arguments see only (k, t mod 24) — 8 x 24 distinct values — and the
    weighted terms are rounded-to-6 DECIMAL sums, so every bin is
    order-free and engine-identical; the k <= 8 entropy fold is
    scalar."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("t"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    ks = F.explode(
        F.sequence(F.lit(1), F.lit(_SPECTRAL_K))
    ).alias("k")
    arg = (
        F.lit(_SPECTRAL_TWO_PI) * F.col("k") * (F.col("t") % 24) / 24.0
    )
    terms = hourly.select("event_type", "cnt", "t", ks).select(
        "event_type", "k",
        F.round(F.col("cnt") * F.cos(arg), 6).cast("decimal(18,6)").alias("ct"),
        F.round(F.col("cnt") * F.sin(arg), 6).cast("decimal(18,6)").alias("st"),
    )
    bins = terms.groupBy("event_type", "k").agg(
        (
            F.pow(F.sum("ct").cast("double"), 2)
            + F.pow(F.sum("st").cast("double"), 2)
        ).alias("power")
    )
    tot = bins.groupBy("event_type").agg(F.sum("power").alias("tp"))
    j = bins.join(tot, "event_type")
    share = F.col("power") / F.col("tp")
    return j.groupBy("event_type").agg(
        F.lit(_SPECTRAL_K).cast("bigint").alias("n_bins"),
        F.round(
            F.sum(F.when(F.col("power") > 0, -share * F.log(share)))
            / F.log(F.lit(float(_SPECTRAL_K))), 6
        ).alias("spectral_entropy"),
        F.round(F.max(share), 6).alias("top_bin_share"),
    )


_PACF_LAGS = 3

_PACF_ORACLE = f"""
WITH b AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr FROM events
), counts AS (
  SELECT event_type, hr, count(*) AS cnt FROM b GROUP BY event_type, hr
), spans AS (
  SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM counts GROUP BY event_type
), grid AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hr FROM spans
), g AS (
  SELECT gr.event_type, gr.hr, coalesce(c.cnt, 0) AS cnt
  FROM grid gr LEFT JOIN counts c
    ON gr.event_type = c.event_type AND gr.hr = c.hr
), m AS (
  SELECT event_type, CAST(SUM(cnt) AS DOUBLE) / count(*) AS ybar,
         CAST(count(*) AS BIGINT) AS n
  FROM g GROUP BY event_type
), lagged AS (
  SELECT g.event_type, n, cnt - ybar AS dev,
         {", ".join(f"lag(cnt, {k}) OVER (PARTITION BY g.event_type ORDER BY hr) - ybar AS dev{k}" for k in range(1, _PACF_LAGS + 1))}
  FROM g JOIN m ON g.event_type = m.event_type
), terms AS (
  SELECT event_type, n,
         CAST(round(dev * dev, 6) AS DECIMAL(38,6)) AS s0,
         {", ".join(f"CAST(round(dev * dev{k}, 6) AS DECIMAL(38,6)) AS t{k}" for k in range(1, _PACF_LAGS + 1))}
  FROM lagged
), agg AS (
  SELECT event_type, max(n) AS n, CAST(SUM(s0) AS DOUBLE) AS s0,
         {", ".join(f"CAST(SUM(t{k}) AS DOUBLE) AS sd{k}" for k in range(1, _PACF_LAGS + 1))}
  FROM terms GROUP BY event_type
), rho AS (
  SELECT event_type, n,
         {", ".join(f"sd{k} / NULLIF(s0, 0) AS r{k}" for k in range(1, _PACF_LAGS + 1))}
  FROM agg
), dl AS (
  SELECT event_type, n, r1, r2, r3,
         (r2 - r1 * r1) / (1 - r1 * r1) AS p22
  FROM rho
), dl2 AS (
  SELECT event_type, n, r1, r2, r3, p22,
         r1 * (1 - p22) AS p21
  FROM dl
)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       round(r1, 6) AS pacf1,
       round(p22, 6) AS pacf2,
       round((r3 - p21 * r2 - p22 * r1)
             / (1 - p21 * r1 - p22 * r2), 6) AS pacf3
FROM dl2
"""


@query("ts_pacf_durbin", oracle=_PACF_ORACLE)
def q_ts_pacf_durbin(spark, sf_dir):
    """Partial autocorrelations at lags 1-3 via the Durbin-Levinson
    closed forms (phi11 = r1; phi22 = (r2 - r1^2)/(1 - r1^2); phi33
    from the level-2 coefficients) over the dense zero-filled hourly
    count series per event type — the AR-order identification companion
    of ts_ljung_box (which tests whether ANY rho is nonzero; PACF says
    WHICH AR lag).  Reuses the exact ACF machinery: 6 dp-rounded
    deviation-product DECIMAL sums (order-free), one IEEE division per
    rho, then pure scalar recursion on the aggregate row — identical
    doubles on both engines, 6 dp output rounds."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    b = ev.select(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("hr")
    )
    counts = b.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("cnt"))
    spans = counts.groupBy("event_type").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hr"),
    )
    g = grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    m = g.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("ybar"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    j = g.join(F.broadcast(m), "event_type")
    dev = F.col("cnt") - F.col("ybar")
    lagged = j.select(
        "event_type", "n", dev.alias("dev"),
        *[
            (F.lag("cnt", k).over(w) - F.col("ybar")).alias(f"dev{k}")
            for k in range(1, _PACF_LAGS + 1)
        ],
    )
    terms = lagged.select(
        "event_type", "n",
        F.round(F.col("dev") * F.col("dev"), 6).cast("decimal(38,6)").alias("s0"),
        *[
            F.round(F.col("dev") * F.col(f"dev{k}"), 6)
            .cast("decimal(38,6)")
            .alias(f"t{k}")
            for k in range(1, _PACF_LAGS + 1)
        ],
    )
    agg = terms.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum("s0").cast("double").alias("s0"),
        *[F.sum(f"t{k}").cast("double").alias(f"sd{k}")
          for k in range(1, _PACF_LAGS + 1)],
    )
    s0 = F.nullif(F.col("s0"), F.lit(0))
    rho = agg.select(
        "event_type", "n",
        *[(F.col(f"sd{k}") / s0).alias(f"r{k}")
          for k in range(1, _PACF_LAGS + 1)],
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    dl = rho.select("event_type", "n", "r1", "r2", "r3", p22.alias("p22"))
    p21 = r1 * (1 - F.col("p22"))
    dl2 = dl.select(
        "event_type", "n", "r1", "r2", "r3", "p22", p21.alias("p21")
    )
    return dl2.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(r1, 6).alias("pacf1"),
        F.round(F.col("p22"), 6).alias("pacf2"),
        F.round(
            (r3 - F.col("p21") * r2 - F.col("p22") * r1)
            / (1 - F.col("p21") * r1 - F.col("p22") * r2), 6
        ).alias("pacf3"),
    )


_TOST_MARGIN = 5.0

_TOST_ORACLE = f"""
WITH {TWO_SAMPLE_MOMENTS_CTE}, v AS (
  SELECT na, nb, sa / na AS ma, sb / nb AS mb,
         (ssa - sa * sa / na) / (na - 1) / na AS van,
         (ssb - sb * sb / nb) / (nb - 1) / nb AS vbn
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma - mb, 6) AS mean_diff,
       round((ma - mb + {_TOST_MARGIN}) / sqrt(van + vbn), 6) AS t_lower,
       round((ma - mb - {_TOST_MARGIN}) / sqrt(van + vbn), 6) AS t_upper,
       round((van + vbn) * (van + vbn)
             / (van * van / (na - 1) + vbn * vbn / (nb - 1)), 4) AS df_welch,
       CASE WHEN (ma - mb + {_TOST_MARGIN}) / sqrt(van + vbn) > 1.6449
             AND (ma - mb - {_TOST_MARGIN}) / sqrt(van + vbn) < -1.6449
            THEN 1 ELSE 0 END AS equivalent_at_90
FROM v
"""


@query("stats_tost_equivalence", oracle=_TOST_ORACLE)
def q_stats_tost_equivalence(spark, sf_dir):
    """TOST equivalence test (Schuirmann's two one-sided tests) for the
    click-vs-error mean value difference against a +/-5.0 margin: BOTH
    t_lower = (d + margin)/se > z_0.95 AND t_upper = (d - margin)/se
    < -z_0.95 must hold to declare equivalence at 90% — the inferential
    INVERSE of stats_welch_ttest (failing to reject difference is not
    evidence of sameness; TOST is).  Same exact-DECIMAL moment machinery
    and Welch-Satterthwaite df; the z threshold is the large-sample
    normal cut (df > 1000 on every fixture)."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    m = two_sample_moments(ev)
    na, nb = F.col("na"), F.col("nb")
    ma = F.col("sa") / na
    mb = F.col("sb") / nb
    van = (F.col("ssa") - F.col("sa") * F.col("sa") / na) / (na - 1) / na
    vbn = (F.col("ssb") - F.col("sb") * F.col("sb") / nb) / (nb - 1) / nb
    se = F.sqrt(van + vbn)
    d = ma - mb
    tl = (d + _TOST_MARGIN) / se
    tu = (d - _TOST_MARGIN) / se
    return m.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(d, 6).alias("mean_diff"),
        F.round(tl, 6).alias("t_lower"),
        F.round(tu, 6).alias("t_upper"),
        F.round(
            (van + vbn) * (van + vbn)
            / (van * van / (na - 1) + vbn * vbn / (nb - 1)),
            4,
        ).alias("df_welch"),
        F.when((tl > 1.6449) & (tu < -1.6449), 1).otherwise(0)
        .alias("equivalent_at_90"),
    )


_DISPERSION_ORACLE = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS cnt
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS hr FROM spans
), g AS (
  SELECT gr.event_type, coalesce(h.cnt, 0) AS cnt
  FROM grid gr LEFT JOIN hourly h
    ON gr.event_type = h.event_type AND gr.hr = h.hr
), m AS (
  SELECT event_type, count(*) AS n,
         SUM(cnt) AS s, SUM(cnt * cnt) AS ss
  FROM g GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_per_hour,
       round((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)
             / (CAST(s AS DOUBLE) / n), 6) AS dispersion_index,
       round((ss - CAST(s AS DOUBLE) * s / n) / (CAST(s AS DOUBLE) / n), 4)
         AS chi2_statistic,
       CAST(n - 1 AS BIGINT) AS df
FROM m
"""


@query("stats_poisson_dispersion", oracle=_DISPERSION_ORACLE)
def q_stats_poisson_dispersion(spark, sf_dir):
    """Poisson dispersion (index-of-dispersion) test per event type
    over the dense zero-filled hourly count series: D = s^2 / mean
    (~1 under Poisson arrivals, > 1 = overdispersed/bursty, < 1 =
    regular), with the chi-square form (n-1)·D on n-1 df — the
    arrival-process diagnostic that pairs with events_burst_days and
    the seasonal/spectral family.  Counts and their squares are exact
    integers (one grouped count + the bounded zero-fill grid), so the
    only floats are two trailing divisions; 6/4 dp output rounds."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    spans = hourly.groupBy("event_type").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = spans.select(
        "event_type", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hr")
    )
    g = grid.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean = s.cast("double") / n
    ssdev = ss - s.cast("double") * s / n
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_hours"),
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(ssdev / (n - 1) / mean, 6).alias("dispersion_index"),
        F.round(ssdev / mean, 4).alias("chi2_statistic"),
        (n - 1).cast("bigint").alias("df"),
    )


_IA_KS_ORACLE = """
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS prev
  FROM events
), gaps AS (
  SELECT event_type, us - prev AS g FROM seq WHERE prev IS NOT NULL
), m AS (
  SELECT event_type, count(*) AS n,
         CAST(SUM(g) AS DOUBLE) / count(*) AS mean_us
  FROM gaps GROUP BY 1
), pv AS (
  SELECT event_type, g, count(*) AS c FROM gaps GROUP BY 1, 2
), cum AS (
  SELECT event_type, g, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY g
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM pv
)
SELECT cum.event_type,
       CAST(m.n AS BIGINT) AS n_gaps,
       round(m.mean_us / 1000000.0, 6) AS mean_gap_s,
       round(max(greatest(
         abs(CAST(cc AS DOUBLE) / m.n - (1 - exp(-(g / m.mean_us)))),
         abs(CAST(cc - c AS DOUBLE) / m.n - (1 - exp(-(g / m.mean_us))))
       )), 6) AS ks_d
FROM cum JOIN m ON cum.event_type = m.event_type
GROUP BY cum.event_type, m.n, m.mean_us
"""


@query("events_interarrival_expon_ks", oracle=_IA_KS_ORACLE)
def q_events_interarrival_expon_ks(spark, sf_dir):
    """Exponentiality check for inter-arrival gaps per event type: the
    one-sample KS statistic of the gap distribution against the FITTED
    exponential (rate = 1/mean gap) — ~small D means arrivals are
    memoryless (Poisson process), large D means bursts/regularity; the
    continuous-time companion of stats_poisson_dispersion's binned
    index.  Gaps and their mean are exact integer microseconds; F0 is
    exp() of identical doubles; the CDF steps use the stats_ks_uniform
    per-distinct-value running-count plan (here a per-type PARTITIONED
    window — millions of natural partitions at scale)."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev"),
    )
    gaps = seq.filter(F.col("prev").isNotNull()).select(
        "event_type", (F.col("us") - F.col("prev")).alias("g")
    )
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("g").cast("double") / F.count(F.lit(1))).alias("mean_us"),
    )
    pv = gaps.groupBy("event_type", "g").agg(F.count(F.lit(1)).alias("c"))
    wc = (
        Window.partitionBy("event_type").orderBy("g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pv.withColumn("cc", F.sum("c").over(wc))
    j = cum.join(F.broadcast(m), "event_type")
    f0 = 1 - F.exp(-(F.col("g") / F.col("mean_us")))
    gap = F.greatest(
        F.abs(F.col("cc").cast("double") / F.col("n") - f0),
        F.abs((F.col("cc") - F.col("c")).cast("double") / F.col("n") - f0),
    )
    return j.groupBy("event_type", "n", "mean_us").agg(
        F.round(F.max(gap), 6).alias("ks_d")
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(F.col("mean_us") / 1_000_000.0, 6).alias("mean_gap_s"),
        "ks_d",
    )
