"""A/B experimentation analytics: deterministic assignment, lift with a
two-proportion z-statistic, sample-ratio-mismatch guardrail, and CUPED
variance reduction.

Round-5 family.  Reference basis: the per-tenant event streams the
filterer lands (docs/architecture.md:113-118) are exactly what product
experimentation reads next — assignment comes from a deterministic hash
of the unit id (so every engine and every replay agrees on who saw
what), and the analysis queries below are the standard scorecard: did
the treatment move the metric (lift + z), is the assignment itself
broken (SRM), and can pre-period behavior shrink the variance (CUPED).

Scale notes (100 TB): assignment is a pure hash expression (no state,
no join); every analysis reduces the event stream ONCE to per-user or
per-arm partial aggregates before any join — the scorecard relations
are O(users) then O(arms).  All means/variances come from decimal-exact
sums, divisions are single IEEE ops, so cross-engine parity holds
without rounding tricks (registry parity rules).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import md5_lane
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables

# Deterministic 50/50 assignment: md5-hash bucket of the user id.
_ASSIGN_SQL = (
    "CAST(('0x' || substring(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 2"
)


def _assign_col():
    return md5_lane(F.col("user_id"), "exp1:") % 2


_AB_LIFT_ORACLE = f"""
WITH peruser AS (
  SELECT user_id, {_ASSIGN_SQL} AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), wide AS (
  -- conditional aggregation (no ELSE → SUM over an absent arm is NULL):
  -- a missing arm yields NULL columns identically in both engines
  -- (ADVICE r5: the per-arm scalar-subquery form diverged from a
  -- per-arm-filter crossJoin on degenerate input)
  SELECT
    SUM(CASE WHEN arm = 0 THEN 1 END) AS n_c,
    SUM(CASE WHEN arm = 0 THEN converted END) AS x_c,
    SUM(CASE WHEN arm = 1 THEN 1 END) AS n_t,
    SUM(CASE WHEN arm = 1 THEN converted END) AS x_t
  FROM peruser
)
SELECT CAST(n_c AS BIGINT) AS n_control, CAST(n_t AS BIGINT) AS n_treatment,
       CAST(x_c AS DOUBLE) / n_c AS p_control,
       CAST(x_t AS DOUBLE) / n_t AS p_treatment,
       CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c AS abs_lift,
       (CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c)
         / NULLIF(sqrt((CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
                * (1 - CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
                * (CAST(1 AS DOUBLE) / n_c + CAST(1 AS DOUBLE) / n_t)), 0) AS z_stat
FROM wide
"""


@query("exp_ab_lift", oracle=_AB_LIFT_ORACLE)
def q_exp_ab_lift(spark, sf_dir):
    """Two-proportion experiment scorecard: per-user conversion (any
    purchase) under a deterministic 50/50 hash assignment, absolute lift
    treatment−control, and the pooled two-proportion z-statistic.  The
    stream collapses to one row per user (map-side max), then ONE global
    conditional aggregate builds the 1-row scorecard — no ELSE branch,
    so an absent arm surfaces as NULL columns (identical to the oracle)
    instead of an empty result (ADVICE r5).  Exactly the analysis shape
    at any scale — the expensive part is the per-user collapse,
    everything after is model-sized."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    peruser = (
        ev.select(
            "user_id",
            _assign_col().alias("arm"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("c"),
        )
        .groupBy("user_id", "arm")
        .agg(F.max("c").alias("converted"))
    )
    wide = peruser.agg(
        F.sum(F.when(F.col("arm") == 0, 1)).alias("n_c"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted"))).alias("x_c"),
        F.sum(F.when(F.col("arm") == 1, 1)).alias("n_t"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted"))).alias("x_t"),
    )
    p_c = F.col("x_c").cast("double") / F.col("n_c")
    p_t = F.col("x_t").cast("double") / F.col("n_t")
    p_pool = (F.col("x_c") + F.col("x_t")).cast("double") / (F.col("n_c") + F.col("n_t"))
    se = F.sqrt(
        p_pool * (1 - p_pool)
        * (F.lit(1.0) / F.col("n_c") + F.lit(1.0) / F.col("n_t"))
    )
    return wide.select(
        F.col("n_c").cast("bigint").alias("n_control"),
        F.col("n_t").cast("bigint").alias("n_treatment"),
        p_c.alias("p_control"),
        p_t.alias("p_treatment"),
        (p_t - p_c).alias("abs_lift"),
        # NULL when the pooled proportion is degenerate (0 or 1 — every
        # unit converted, as happens at tiny SF): z is undefined there
        (F.try_divide(p_t - p_c, F.nullif(se, F.lit(0.0)))).alias("z_stat"),
    )


_SRM_ORACLE = f"""
WITH peruser AS (
  SELECT user_id, {_ASSIGN_SQL} AS arm FROM events GROUP BY user_id,
       {_ASSIGN_SQL}
), arms AS (
  SELECT arm, count(*) AS n FROM peruser GROUP BY arm
), tot AS (
  SELECT SUM(n) AS nt FROM arms
)
SELECT a.arm, CAST(a.n AS BIGINT) AS n_units,
       CAST(t.nt AS DOUBLE) / 2 AS expected,
       round(power(a.n - CAST(t.nt AS DOUBLE) / 2, 2) / (CAST(t.nt AS DOUBLE) / 2), 6)
         AS chi2_term
FROM arms a CROSS JOIN tot t
"""


@query("exp_srm_check", oracle=_SRM_ORACLE)
def q_exp_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail: observed unit counts per arm vs
    the designed 50/50 split, with each arm's chi-squared term (sum > 3.84
    ⇒ the assignment plumbing is broken and the experiment is invalid —
    the FIRST check any experimentation platform runs).  One distinct on
    (user, arm) then an arm-count aggregate; output is arm-sized."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    peruser = ev.select("user_id", _assign_col().alias("arm")).distinct()
    arms = peruser.groupBy("arm").agg(F.count("*").alias("n"))
    tot = arms.agg(F.sum("n").alias("nt"))
    exp_ = F.col("nt").cast("double") / 2
    return arms.crossJoin(F.broadcast(tot)).select(
        "arm",
        F.col("n").cast("bigint").alias("n_units"),
        exp_.alias("expected"),
        F.round(F.pow(F.col("n") - exp_, 2) / exp_, 6).alias("chi2_term"),
    )


# CUPED: pre-period covariate = user's value-sum in the first half month;
# outcome = value-sum in the second half.  theta = cov(x,y)/var(x) from
# decimal-exact sums; adjusted outcome variance shrinks by corr².
_CUPED_ORACLE = f"""
WITH peruser AS (
  SELECT user_id, {_ASSIGN_SQL} AS arm,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                  THEN CAST(value AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS x,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                  THEN CAST(value AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS y
  FROM events GROUP BY user_id
), stats AS (
  SELECT count(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,8))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,8))) AS DOUBLE) AS syy
  FROM peruser
), theta AS (
  SELECT n, sx, sy, sxx, syy,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS th
  FROM stats
)
SELECT CAST(n AS BIGINT) AS n_users,
       round(th, 6) AS theta,
       round((syy - sy * sy / n) / n, 4) AS var_y,
       round(((syy - sy * sy / n)
              - th * th * (sxx - sx * sx / n)) / n, 4) AS var_y_cuped
FROM theta
"""


@query("exp_cuped_adjust", oracle=_CUPED_ORACLE)
def q_exp_cuped_adjust(spark, sf_dir):
    """CUPED variance reduction: θ = cov(pre, post)/var(pre) over
    per-user value sums (pre = first half month, post = second), and the
    outcome variance before vs after the θ·(x−x̄) adjustment — the
    standard trick that cuts experiment runtime by the pre/post
    correlation squared.  One per-user collapse, then a 1-row moment
    aggregate (decimal-exact sums); θ and the variances are derived on
    the driver-sized relation."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    peruser = (
        ev.select(
            "user_id",
            _assign_col().alias("arm"),
            F.when(F.col("ts") < F.lit("2024-01-16"), dec("value")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            ).alias("xv"),
            F.when(F.col("ts") >= F.lit("2024-01-16"), dec("value")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            ).alias("yv"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.sum("xv").cast("double").alias("x"),
            F.sum("yv").cast("double").alias("y"),
        )
    )
    stats = peruser.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(18,4)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,4)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,8)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,8)")).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,8)")).cast("double").alias("syy"),
    )
    th = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / F.col("n")
    var_cuped = (
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        - th * th * (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
    ) / F.col("n")
    return stats.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(th, 6).alias("theta"),
        F.round(var_y, 4).alias("var_y"),
        F.round(var_cuped, 4).alias("var_y_cuped"),
    )


# Ratio-metric scorecard via the delta method: purchases-per-event is a
# ratio of SUMS over users, so the naive per-user-mean variance is wrong
# (users contribute unequal denominators).  The delta-method variance
# var(R) ≈ (var_x + R²·var_y − 2R·cov_xy) / (n·ȳ²) needs only the six
# integer-exact moments (n, Σx, Σy, Σx², Σy², Σxy) per arm — one
# per-user collapse then one arm aggregate, every input to the float
# arithmetic a BIGINT, so both engines compute identical doubles.
_DELTA_ORACLE = f"""
WITH peruser AS (
  SELECT user_id, {_ASSIGN_SQL} AS arm,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT arm, count(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM peruser GROUP BY arm
)
SELECT arm, CAST(n AS BIGINT) AS n_users,
       CAST(sx AS DOUBLE) / sy AS ratio,
       ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
        + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
          * ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1))
        - 2 * (CAST(sx AS DOUBLE) / sy)
          * ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1)))
       / (n * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) AS var_delta
FROM m
"""


@query("exp_delta_method_ratio", oracle=_DELTA_ORACLE)
def q_exp_delta_method_ratio(spark, sf_dir):
    """Delta-method variance for a RATIO metric (purchases per event)
    per experiment arm: the analysis every platform needs once the
    metric's denominator varies by user — a per-user-mean z-test is
    biased there, the delta method is the standard fix (Deng et al.,
    KDD 2018 'Applying the Delta Method in Metric Analytics' — public
    method).  One per-user collapse (map-side combinable), one arm
    aggregate of six INTEGER moments, then pure arithmetic — the float
    expression consumes only BIGINT sums in the same structure on both
    engines, so the doubles match bitwise.  Output is arm-sized."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    peruser = (
        ev.select(
            "user_id",
            _assign_col().alias("arm"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("c"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.sum("c").cast("bigint").alias("x"),
            F.count("*").cast("bigint").alias("y"),
        )
    )
    m = peruser.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    r = F.col("sx").cast("double") / F.col("sy")
    var_x = (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    var_y = (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    cov = (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    ybar = F.col("sy").cast("double") / F.col("n")
    return m.select(
        "arm",
        F.col("n").cast("bigint").alias("n_users"),
        r.alias("ratio"),
        ((var_x + r * r * var_y - 2 * r * cov) / (F.col("n") * ybar * ybar)).alias("var_delta"),
    )
