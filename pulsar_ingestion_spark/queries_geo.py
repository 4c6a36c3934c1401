"""Geospatial analytics over the telemetry ping stream — grid density
and nearest-POI assignment.

Coordinates derive from events.value with the same deterministic
convention the telemetry family uses (`queries_extra.py`
telemetry_trip_distance: lat = value/10, lon = -value/7), so the
oracle recomputes identical doubles.  Trig parity: libm differs by
~1 ulp across engines, so every distance is rounded to 6 dp before
ordering/COMPARISON (the precedent telemetry_trip_summary set).

Scale shapes:
  * grid density is one partial-agg shuffle on an integer cell key —
    the standard first stage of any heatmap/tile pipeline;
  * nearest-POI replicates the POI table (8 rows; thousands in a real
    deployment — still KB) against the ping stream: a broadcast
    nested-loop whose cost is linear in pings, followed by a per-ping
    argmin expressed as min(struct) — NO shuffle of the ping stream.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.geo import haversine_km
from pulsar_ingestion_spark.operators.iterate import fixpoint
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables

_GRID_ORACLE = """
WITH pings AS (
  SELECT value / 10 AS lat, -value / 7 AS lon, value FROM events
)
SELECT CAST(floor(lat) AS BIGINT) AS cell_lat,
       CAST(floor(lon) AS BIGINT) AS cell_lon,
       count(*) AS n_pings,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_value
FROM pings
GROUP BY cell_lat, cell_lon
"""


@query("geo_grid_density", oracle=_GRID_ORACLE)
def q_geo_grid_density(spark, sf_dir):
    """1°×1° grid density of the ping stream (heatmap/tile stage 1).
    floor() on identical IEEE doubles is engine-stable, the cell key is
    two small ints, and the agg is one partial-agg shuffle — at 100 TB
    each map task collapses to ≤ |occupied cells| rows."""
    ev = load_tables(spark, sf_dir)["events"]
    pings = ev.select(
        (F.col("value") / 10).alias("lat"),
        (-F.col("value") / 7).alias("lon"),
        "value",
    )
    return pings.groupBy(
        F.floor("lat").cast("bigint").alias("cell_lat"),
        F.floor("lon").cast("bigint").alias("cell_lon"),
    ).agg(
        F.count("*").alias("n_pings"),
        # UNROUNDED on purpose: both engines divide bit-identical doubles
        # (exact decimal sum, exact count) → identical IEEE quotient.
        # round-after-divide is what breaks parity here: 2-decimal sums over
        # counts like 80 land EXACTLY on .00005 boundaries, where Spark's
        # BigDecimal HALF_UP and DuckDB's scaled-multiply round disagree.
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("*"))
        .alias("avg_value"),
    )


# Deterministic station grid: 8 POIs spanning the ping envelope
# (value ∈ [0, ~330] → lat ∈ [0, 33], lon ∈ [-47, 0]).
_POIS = [(i, 2.0 + 4.0 * i, -3.0 - 6.0 * i) for i in range(8)]

_POI_SQL_ROWS = ", ".join(f"({i}, CAST({la} AS DOUBLE), CAST({lo} AS DOUBLE))" for i, la, lo in _POIS)

_NEAREST_ORACLE = f"""
WITH pois(poi_id, plat, plon) AS (VALUES {_POI_SQL_ROWS}),
pings AS (
  SELECT event_id, value / 10 AS lat, -value / 7 AS lon FROM events
), scored AS (
  SELECT p.event_id, q.poi_id,
         round(2 * 6371.0 * asin(sqrt(
           pow(sin(radians(q.plat - p.lat) / 2), 2)
           + cos(radians(p.lat)) * cos(radians(q.plat))
             * pow(sin(radians(q.plon - p.lon) / 2), 2))), 6) AS dist_km
  FROM pings p CROSS JOIN pois q
), best AS (
  SELECT event_id, poi_id, dist_km,
         row_number() OVER (PARTITION BY event_id ORDER BY dist_km, poi_id) AS rn
  FROM scored
)
SELECT event_id, poi_id AS nearest_poi, dist_km FROM best WHERE rn = 1
"""


@query("geo_nearest_poi", oracle=_NEAREST_ORACLE)
def q_geo_nearest_poi(spark, sf_dir):
    """Nearest point-of-interest per ping: broadcast the (tiny) POI
    table against the stream, compute rounded haversine to each, and
    take the per-ping argmin as min(struct(dist, poi)) — a single
    narrow pass over the pings with zero shuffle (the window-based
    form would shuffle every ping on event_id; min(struct) folds the
    argmin into the broadcast-join stage map-side)."""
    spark_pois = F.array(
        *[
            F.struct(
                F.lit(i).alias("poi_id"),
                F.lit(la).cast("double").alias("plat"),
                F.lit(lo).cast("double").alias("plon"),
            )
            for i, la, lo in _POIS
        ]
    )
    ev = load_tables(spark, sf_dir)["events"]
    pings = ev.select(
        "event_id",
        (F.col("value") / 10).alias("lat"),
        (-F.col("value") / 7).alias("lon"),
    )
    scored = pings.select(
        "event_id",
        F.explode(spark_pois).alias("poi"),
        "lat",
        "lon",
    ).select(
        "event_id",
        F.col("poi.poi_id").alias("poi_id"),
        F.round(
            haversine_km(F.col("lat"), F.col("lon"), F.col("poi.plat"), F.col("poi.plon")), 6
        ).alias("dist_km"),
    )
    best = scored.groupBy("event_id").agg(
        F.min(F.struct("dist_km", "poi_id")).alias("b")
    )
    return best.select(
        "event_id",
        F.col("b.poi_id").alias("nearest_poi"),
        F.col("b.dist_km").alias("dist_km"),
    )


# ---------------------------------------------------------------------------
# Grid DBSCAN: density clustering of occupied 1-degree cells.

_DBSCAN_MINPTS = 5
_DBSCAN_ITERS = 8

# Cell node id: positive-offset composite so min-label comparisons are
# plain BIGINT comparisons on both engines.
_DBSCAN_BASE_SQL = f"""
  cells AS (
    SELECT CAST(floor(value / 10) AS BIGINT) AS cl,
           CAST(floor(-value / 7) AS BIGINT) AS cn,
           count(*) AS n_pings
    FROM events
    GROUP BY 1, 2
  ), core AS (
    SELECT (cl + 1000) * 100000 + (cn + 1000) AS node, cl, cn, n_pings
    FROM cells WHERE n_pings >= {_DBSCAN_MINPTS}
  ), edges AS (
    SELECT a.node AS na, b.node AS nb
    FROM core a JOIN core b
      ON abs(a.cl - b.cl) <= 1 AND abs(a.cn - b.cn) <= 1
     AND a.node <> b.node
  ), l0 AS (
    SELECT node, node AS label FROM core
  )"""


def _dbscan_iter_sql(k: int) -> str:
    # one neighbor-min step PLUS pointer jumping (label-of-label): the
    # shortcut halves remaining chain lengths, so convergence needs
    # O(log diameter) rounds, not O(diameter)
    prev = f"l{k - 1}"
    return f""", l{k} AS MATERIALIZED (
    SELECT p.node,
           least(least(p.label, coalesce(min(q.label), p.label)),
                 coalesce(min(r.label), p.label)) AS label
    FROM {prev} p
    LEFT JOIN edges e ON e.na = p.node
    LEFT JOIN {prev} q ON q.node = e.nb
    LEFT JOIN {prev} r ON r.node = p.label
    GROUP BY p.node, p.label
  )"""


_DBSCAN_ORACLE = (
    "WITH "
    + _DBSCAN_BASE_SQL
    + "".join(_dbscan_iter_sql(k) for k in range(1, _DBSCAN_ITERS + 1))
    + f"""
SELECT l.label AS cluster_id,
       count(*) AS n_cells,
       CAST(SUM(c.n_pings) AS BIGINT) AS n_pings,
       CAST(min(c.cl) AS BIGINT) AS min_lat,
       CAST(max(c.cl) AS BIGINT) AS max_lat
FROM l{_DBSCAN_ITERS} l JOIN core c ON c.node = l.node
GROUP BY l.label
"""
)


@query("geo_dbscan_grid", oracle=_DBSCAN_ORACLE)
def q_geo_dbscan_grid(spark, sf_dir):
    """Grid DBSCAN: occupied 1° cells with ≥ minPts pings are core cells;
    8-neighborhood-adjacent core cells merge into clusters via min-label propagation
    WITH pointer jumping (each round a node adopts the min of its own
    label, its neighbors' labels, and its label's label) — the
    shortcutting makes convergence O(log diameter), so 8 rounds cover
    components up to 2^8 cells across; the oracle unrolls all 8, Spark
    stops at the first round that changes no label (the same labels),
    and the invariant test verifies labels equal exact connected
    components.
    This is density clustering at tile granularity — the spatial
    counterpart of dedup_cluster_components, with the cell grid as the
    blocking structure: pings collapse to O(cells) FIRST, so the
    propagation relation is model-sized regardless of ping volume."""
    ev = load_tables(spark, sf_dir)["events"]
    cells = (
        ev.select(
            F.floor(F.col("value") / 10).cast("bigint").alias("cl"),
            F.floor(-F.col("value") / 7).cast("bigint").alias("cn"),
        )
        .groupBy("cl", "cn")
        .agg(F.count("*").alias("n_pings"))
    )
    core = cells.filter(F.col("n_pings") >= _DBSCAN_MINPTS).select(
        ((F.col("cl") + 1000) * 100000 + (F.col("cn") + 1000)).alias("node"),
        "cl", "cn", "n_pings",
    ).persist()
    a = core.alias("a")
    b = core.alias("b")
    edges = (
        a.join(
            b,
            (F.abs(F.col("a.cl") - F.col("b.cl")) <= 1)
            & (F.abs(F.col("a.cn") - F.col("b.cn")) <= 1)
            & (F.col("a.node") != F.col("b.node")),
        )
        .select(F.col("a.node").alias("na"), F.col("b.node").alias("nb"))
        .persist()
    )
    def _round(labels, _):
        nb_min = (
            labels.join(edges, labels["node"] == edges["na"])
            .join(
                labels.select(
                    F.col("node").alias("qnode"), F.col("label").alias("qlabel")
                ),
                F.col("nb") == F.col("qnode"),
            )
            .groupBy("na")
            .agg(F.min("qlabel").alias("nb_label"))
        )
        # pointer jumping: each node also adopts its label's label —
        # the shortcut that turns O(diameter) rounds into O(log diameter)
        shortcut = labels.select(
            F.col("node").alias("snode"), F.col("label").alias("slabel")
        )
        return (
            labels.join(nb_min, labels["node"] == nb_min["na"], "left")
            .join(shortcut, F.col("label") == F.col("snode"), "left")
            .select(
                "node",
                F.least(
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nb_label"), F.col("label")),
                    ),
                    F.coalesce(F.col("slabel"), F.col("label")),
                ).alias("label"),
                F.col("label").alias("old"),
            )
        )

    # a round that changes no label repeats itself: stopping there gives
    # the labels of all _DBSCAN_ITERS rounds
    labels = fixpoint(
        core.select("node", F.col("node").alias("label")),
        _round,
        lambda prev, cur: cur.m["changed"] == 0,
        probe=(F.count_if(F.col("label") != F.col("old")).alias("changed"),),
        max_iters=_DBSCAN_ITERS,
    )
    return (
        labels.join(core, "node")
        .groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n_pings").cast("bigint").alias("n_pings"),
            F.min("cl").cast("bigint").alias("min_lat"),
            F.max("cl").cast("bigint").alias("max_lat"),
        )
    )


# ---------------------------------------------------------------------------
# Round 8: kernel-density heatmap on the 1-degree grid.

_KDE_H2X2 = 1.125  # 2·h² for bandwidth h = 0.75°
_KDE_TOPK = 20

_KDE_ORACLE = f"""
WITH pings AS (
  SELECT value / 10 AS lat, -value / 7 AS lon FROM events
), contrib AS (
  SELECT CAST(floor(lat) + dx.d AS BIGINT) AS cell_lat,
         CAST(floor(lon) + dy.d AS BIGINT) AS cell_lon,
         CAST(round(exp(-(
             (lat - (floor(lat) + dx.d + 0.5)) * (lat - (floor(lat) + dx.d + 0.5))
           + (lon - (floor(lon) + dy.d + 0.5)) * (lon - (floor(lon) + dy.d + 0.5))
         ) / {_KDE_H2X2}), 6) AS DECIMAL(18,6)) AS w
  FROM pings,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
)
SELECT cell_lat, cell_lon,
       CAST(SUM(w) AS DOUBLE) AS density
FROM contrib GROUP BY cell_lat, cell_lon
ORDER BY density DESC, cell_lat, cell_lon
LIMIT {_KDE_TOPK}
"""


@query("geo_kde_grid", oracle=_KDE_ORACLE)
def q_geo_kde_grid(spark, sf_dir):
    """Gaussian kernel-density heatmap: every ping spreads
    exp(−d²/2h²) mass over its 3×3 neighboring 1° cells (h = 0.75°,
    kernel truncated past one cell — standard for tile rendering), and
    the top-20 densest cells come back.  The smooth sibling of
    geo_grid_density's raw counts.

    The 9× fan-out happens BEFORE the shuffle, so each map task still
    collapses to ≤ |occupied cells| combiner rows; kernel weights are
    rounded-to-6 then DECIMAL-summed (order-free), and the top-k is
    TakeOrdered.  At 100 TB this is the one-pass density-tile plan — no
    pairwise point math anywhere."""
    # fan_out is load-bearing here: the 9x kernel fan-out plus exp()
    # is CPU-heavy narrow work, and a single-row-group parquet scan
    # would run it in one task (measured 7.3x wall at the 10x point
    # before the repartition).
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    pings = ev.select(
        (F.col("value") / 10).alias("lat"), (-F.col("value") / 7).alias("lon")
    )
    offs = F.array([F.lit(x) for x in (-1, 0, 1)])
    fan = pings.select(
        "lat", "lon",
        F.explode(offs).alias("dx"),
    ).select("lat", "lon", "dx", F.explode(offs).alias("dy"))
    cx = F.floor("lat") + F.col("dx") + 0.5
    cy = F.floor("lon") + F.col("dy") + 0.5
    w = F.round(
        F.exp(
            -((F.col("lat") - cx) * (F.col("lat") - cx)
              + (F.col("lon") - cy) * (F.col("lon") - cy)) / _KDE_H2X2
        ), 6
    ).cast("decimal(18,6)")
    contrib = fan.select(
        (F.floor("lat") + F.col("dx")).cast("bigint").alias("cell_lat"),
        (F.floor("lon") + F.col("dy")).cast("bigint").alias("cell_lon"),
        w.alias("w"),
    )
    return (
        contrib.groupBy("cell_lat", "cell_lon")
        .agg(F.sum("w").cast("double").alias("density"))
        .orderBy(F.desc("density"), F.asc("cell_lat"), F.asc("cell_lon"))
        .limit(_KDE_TOPK)
    )
