"""Graph analytics over the event stream: PageRank on the event-type
transition graph, and degree / triangle statistics of the user
co-occurrence graph.

Round-5 family.  Reference basis: the event stream its splitter fans
out (EventTypeSplitter — connectors/…/event-type-splitter; journey
semantics recovered from docs/architecture.md:113-118's per-tenant
consumer model) is a journey log; once journeys are modelled as a
graph — states as nodes with transition edges (events_markov_transitions
built exactly that edge relation), or users as nodes linked by
co-occurrence — the questions its consumers ask next are the classic
graph ones: which state is structurally central (PageRank), how connected
is the interaction graph (degree distribution), how clustered is it
(triangles).  Each is implemented as a fixed-point-free Spark plan:
PageRank as K unrolled broadcast-join iterations over a model-sized rank
table, triangles via the degree-ordered orientation that bounds the
intermediate adjacency fan-out.

Scale notes (100 TB):
  * PageRank: the data-sized work is ONE user-window lag + ONE edge
    aggregation (25-cell key, map-side combine).  Every iteration after
    that joins two model-sized relations (|types| rows) — broadcast,
    zero data-scale shuffles, so K iterations cost K tiny jobs, not K
    passes over the events.
  * Co-occurrence pair generation is bucketed by (event_type, time bucket):
    pairs are generated within a bucket only, O(Σ b²) not O(n²) — the
    same blocking discipline as the LSH dedup family.  Tighter buckets
    (minute, device) bound b as volume grows; the graph relations
    (edges, degrees) are distinct-key aggregates that shuffle once.
  * Triangle counting uses the degree-ordering trick (count each
    triangle once at its lowest-rank vertex): orienting edges from
    lower (degree, id) rank to higher caps every adjacency list at
    O(sqrt(E)) for the heavy nodes, which is what keeps the
    A(a,b)⋈A(b,c) expansion from exploding on skewed graphs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.iterate import fixpoint, same_count
from pulsar_ingestion_spark.operators.ranking import best_struct
from pulsar_ingestion_spark.operators.sketch import md5_lane
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables

_PR_DAMP = 0.85
_PR_ITERS = 3

# Per-term products are cast to DECIMAL(28,15) before the SUM so the
# neighbor-contribution fold is order-independent on both engines
# (registry parity rules); everything else is single IEEE ops.
_PAGERANK_ORACLE = f"""
WITH seq AS (
  SELECT event_type AS cur,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), edges AS (
  SELECT prev, cur, count(*) AS cnt FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
), p AS (
  SELECT prev, cur,
         CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY prev) AS pij
  FROM edges
), nodes AS (
  SELECT DISTINCT event_type AS node FROM events
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes
), it0 AS (
  SELECT node, CAST(1 AS DOUBLE) / nn AS pr FROM nodes CROSS JOIN n
), it1 AS (
  SELECT nodes.node,
         CAST(0.15 AS DOUBLE) / n.nn + CAST(0.85 AS DOUBLE) * COALESCE(s.acc, 0) AS pr
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT p.cur AS node,
           CAST(SUM(CAST(it0.pr * p.pij AS DECIMAL(28,15))) AS DOUBLE) AS acc
    FROM p JOIN it0 ON it0.node = p.prev GROUP BY p.cur
  ) s ON s.node = nodes.node
), it2 AS (
  SELECT nodes.node,
         CAST(0.15 AS DOUBLE) / n.nn + CAST(0.85 AS DOUBLE) * COALESCE(s.acc, 0) AS pr
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT p.cur AS node,
           CAST(SUM(CAST(it1.pr * p.pij AS DECIMAL(28,15))) AS DOUBLE) AS acc
    FROM p JOIN it1 ON it1.node = p.prev GROUP BY p.cur
  ) s ON s.node = nodes.node
), it3 AS (
  SELECT nodes.node,
         CAST(0.15 AS DOUBLE) / n.nn + CAST(0.85 AS DOUBLE) * COALESCE(s.acc, 0) AS pr
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT p.cur AS node,
           CAST(SUM(CAST(it2.pr * p.pij AS DECIMAL(28,15))) AS DOUBLE) AS acc
    FROM p JOIN it2 ON it2.node = p.prev GROUP BY p.cur
  ) s ON s.node = nodes.node
)
SELECT node, round(pr, 6) AS pagerank FROM it3
"""


def _pr_step(nodes, n, p, ranks):
    """One PageRank iteration: neighbor contributions (decimal-summed),
    damped teleport.  Every relation here is model-sized — broadcast."""
    acc = (
        p.join(F.broadcast(ranks), p["prev"] == ranks["node"])
        .select(p["cur"].alias("node"), (F.col("pr") * F.col("pij")).alias("term"))
        .groupBy("node")
        .agg(F.sum(F.col("term").cast("decimal(28,15)")).cast("double").alias("acc"))
    )
    return (
        nodes.crossJoin(F.broadcast(n))
        .join(F.broadcast(acc), "node", "left")
        .select(
            "node",
            (
                F.lit(1.0 - _PR_DAMP) / F.col("nn")
                + F.lit(_PR_DAMP) * F.coalesce(F.col("acc"), F.lit(0.0))
            ).alias("pr"),
        )
    )


@query("graph_pagerank", oracle=_PAGERANK_ORACLE)
def q_graph_pagerank(spark, sf_dir):
    """PageRank (d=0.85, 3 unrolled iterations, uniform init) on the
    event-type transition graph.  Spec note: dangling mass is NOT
    redistributed — a node with no in-edges holds the teleport floor
    (1-d)/N, matching the oracle's LEFT JOIN + COALESCE(0).  The stream
    is touched exactly once (lag window + 25-cell edge agg); iterations
    operate on |types|-row relations joined broadcast, so the iteration
    cost is independent of data scale — the plan a 1000-executor run
    wants for a model-sized graph.  For billion-node graphs the same
    step runs as a shuffle join on node id partitioning kept stable
    across iterations."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"), F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    edges = seq.groupBy("prev", "cur").agg(F.count("*").alias("cnt"))
    wp = Window.partitionBy("prev")
    p = edges.select(
        "prev", "cur",
        (F.col("cnt").cast("double") / F.sum("cnt").over(wp)).alias("pij"),
    ).persist()
    nodes = ev.select(F.col("event_type").alias("node")).distinct().persist()
    n = nodes.agg(F.count("*").cast("double").alias("nn"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("nn")).alias("pr")
    )
    for _ in range(_PR_ITERS):
        ranks = _pr_step(nodes, n, p, ranks)
    # p/nodes stay persisted across the unrolled iterations; harnesses
    # running many queries clear the cache between them (registry policy).
    return ranks.select("node", F.round("pr", 6).alias("pagerank"))


# ---------------------------------------------------------------------------
# User co-occurrence graph: distinct users sharing an (event_type,
# 5-minute-bucket) cell are linked.  Blocked pair generation — same discipline as the
# banded-LSH dedup family: pairs exist only within a bucket.

# Epoch-aligned 5-minute buckets via integer arithmetic — the bucket
# width is the density knob: hour buckets make this fixture's 1500-user
# graph ~70% complete (O(b²) pair explosion), 5 minutes keeps it ~10%.
_COOC_BUCKET_SECONDS = 300

# Hub cap: a (event_type, bucket) cell contributes pairs among at most
# _COOC_CAP deterministically-chosen members (portable-hash order, so
# both engines pick the same ones).  Pair volume per cell is bounded at
# cap², turning the worst hot block from O(b²) into O(cap·b) total work
# — the same discipline as the LSH family's band-width cap (VERDICT
# r5).  At the test SFs every cell is far below the cap (max b = 11 at
# sf0.1), so results are unchanged; at 100 TB it is the difference
# between a bounded plan and a quadratic one.
_COOC_CAP = 64

_COOC_EDGES_SQL = f"""
  buck0 AS (
    SELECT DISTINCT event_type,
           epoch_us(ts) // {_COOC_BUCKET_SECONDS * 1_000_000} AS hr,
           user_id
    FROM events
  ), buck AS (
    SELECT event_type, hr, user_id FROM (
      SELECT event_type, hr, user_id,
             row_number() OVER (
               PARTITION BY event_type, hr
               ORDER BY CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT), user_id
             ) AS rn
      FROM buck0
    ) t WHERE rn <= {_COOC_CAP}
  ), edges AS (
    SELECT DISTINCT a.user_id AS u, b.user_id AS v
    FROM buck a JOIN buck b
      ON a.event_type = b.event_type AND a.hr = b.hr AND a.user_id < b.user_id
  )
"""

_DEGREE_ORACLE = f"""
WITH {_COOC_EDGES_SQL},
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) t GROUP BY node
)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""


def _cooc_edges(ev):
    """Distinct co-occurrence edges (u < v) from (type, time-bucket) cells.
    Hot cells are capped at _COOC_CAP members FIRST (deterministic
    portable-hash order via a window on the cell key — streaming, so an
    uncapped hot cell never materializes as an array), then each capped
    cell folds to one sorted member array (≤ _COOC_CAP elements — a
    bounded allocation at any scale) riding the SAME exchange, and the
    u < v pairs are generated map-side by a nested array transform.
    Round 13: this explode form replaces the bucket-key self-join —
    one shuffle + narrow pair expansion instead of a sort-merge join;
    measured 3.40 → 2.66 s at sf0.1, identical output, and the win
    repeats across every graph id that starts from these edges.

    Round 13 (optimization): the up-front (event_type, hr, user_id)
    DISTINCT — a full shuffle hash-partitioned on all three columns,
    immediately followed by the cap window's second exchange on
    (event_type, hr) — is gone.  The cap window now runs DENSE_RANK
    over the raw rows (duplicates of one user share a rank, so the
    same ≤ cap member set survives), and the per-cell dedup happens in
    ``collect_set`` on the groupBy that already rides the window's
    (event_type, hr) partitioning.  One data-scale exchange instead of
    two; set sizes stay bounded by the cap, preserving the streaming
    no-hot-cell-array property."""
    buck0 = ev.select(
        "event_type",
        F.expr(f"unix_micros(ts) div {_COOC_BUCKET_SECONDS * 1_000_000}").alias("hr"),
        "user_id",
    )
    wcap = Window.partitionBy("event_type", "hr").orderBy(md5_lane(F.col("user_id")), "user_id")
    buck = (
        buck0.withColumn("rn", F.dense_rank().over(wcap))
        .filter(F.col("rn") <= _COOC_CAP)
        .drop("rn")
    )
    cells = buck.groupBy("event_type", "hr").agg(
        F.sort_array(F.collect_set("user_id")).alias("m")
    )
    return (
        cells.select(
            F.explode(
                F.expr(
                    "flatten(transform(m, (x, i) -> "
                    "transform(slice(m, i+2, size(m)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .distinct()
    )


@query("graph_degree_stats", oracle=_DEGREE_ORACLE)
def q_graph_degree_stats(spark, sf_dir):
    """Degree distribution of the user co-occurrence graph: how many
    nodes have each degree — the first health check on any interaction
    graph (connectivity, skew, isolates).  Two shuffles beyond the
    blocked pair generation: the edge distinct and the per-node degree
    count (both map-side combining).  The distribution output is
    model-sized."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


_TRIANGLE_ORACLE = f"""
WITH {_COOC_EDGES_SQL},
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) t GROUP BY node
), ori AS (
  SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.u ELSE e.v END AS lo,
         CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.v ELSE e.u END AS hi
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
), tri AS (
  SELECT count(*) AS n_triangles
  FROM ori ab JOIN ori bc ON bc.lo = ab.hi
  JOIN ori ac ON ac.lo = ab.lo AND ac.hi = bc.hi
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       n_triangles
FROM tri
"""


@query("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def q_graph_triangle_count(spark, sf_dir):
    """Triangle count of the co-occurrence graph via degree-ordered
    orientation: rank nodes by (degree, id), orient every edge from the
    lower rank to the higher, and count paths lo→mid→hi that close with
    an oriented lo→hi edge.  Each triangle is counted exactly once (at
    its lowest-rank vertex), and — the scale property — every oriented
    adjacency list is O(sqrt(E)) even for hub nodes, so the wedge join
    A(a,b)⋈A(b,c) cannot explode on skewed graphs the way the naive
    three-way edge join does.  Two equi-join shuffles on node keys after
    the blocked edge build."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev)
    # Round 13: oriented adjacency is built off ONE shared exchange.
    # bidir is hash-partitioned on nbr; the degree aggregate (grouping by
    # nbr — bidir is symmetric, so deg(x) = |{rows with nbr = x}|) and
    # the degree-attach join both ride it, and the (node)-keyed adjacency
    # groupBy is the only further data-scale exchange.  Orientation
    # (total order on (degree, id) — no global rank needed) happens
    # MAP-SIDE by filtering each node's (nbr, deg) struct list, so the
    # old edges⋈deg⋈deg orientation joins and the oriented-edge
    # materialization disappear entirely.
    bidir = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .repartition("nbr")
        .persist()
    )
    degn = bidir.groupBy("nbr").agg(F.count(F.lit(1)).alias("dn"))
    # Round 14 (VERDICT r13 item 3): orientation moves BEFORE the
    # adjacency groupBy.  The r13 form collected the FULL unoriented
    # struct list per node and filtered it map-side — an O(maxdeg) array
    # materialization per hub, the same humongous-allocation cliff the
    # linkpred skew gate exists for, and triangle had no gate.  Both
    # endpoint degrees now attach as ROW columns (dn rides the shared
    # nbr exchange; dnode joins degn on node — broadcast at test scale,
    # and at node-scale its exchange doubles as the groupBy's), rows
    # below the (degree, id) rank filter drop BEFORE collect_list, so
    # only the oriented O(sqrt E) out-lists ever exist as arrays — hub
    # safety by construction instead of by gate.
    dnode = degn.select(F.col("nbr").alias("node"), F.col("dn").alias("dnode"))
    oriented = (
        bidir.join(degn, "nbr")
        .join(dnode, "node")
        .filter(
            (F.col("dn") > F.col("dnode"))
            | ((F.col("dn") == F.col("dnode")) & (F.col("nbr") > F.col("node")))
        )
    )
    adj = oriented.groupBy("node").agg(F.collect_list("nbr").alias("nbrs")).persist()
    # Edge-iterator count: per oriented edge (lo, hi), triangles closing
    # at it are |adj(lo) ∩ adj(hi)| — computed map-side on joined
    # adjacency ARRAYS, so the wedge relation (5.5M rows at sf0.1, ~10×
    # the edge count) is never materialized or shuffled (VERDICT r5:
    # super-linear curve of the three-way join).  Orientation caps every
    # adjacency array at O(sqrt E).  The (lo, hi, lo_nbrs) triples come
    # from exploding the adjacency arrays; only the join on hi shuffles
    # (the adj side reuses its groupBy partitioning from cache).
    pairs = adj.select(
        F.col("nbrs").alias("lo_nbrs"), F.explode("nbrs").alias("hi")
    )
    tri = (
        pairs.join(
            adj.select(F.col("node").alias("bnode"), F.col("nbrs").alias("hi_nbrs")),
            F.col("bnode") == F.col("hi"),
        )
        .select(F.size(F.array_intersect("lo_nbrs", "hi_nbrs")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_triangles"))
    )
    # node and edge counts ride the cached bidir via the degree
    # aggregate (adj no longer holds every node: locally-maximal-rank
    # nodes have empty out-lists and drop at the orientation filter).
    stats = degn.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.coalesce(F.expr("sum(dn) div 2"), F.lit(0))
        .cast("bigint").alias("n_edges"),
    )
    # bidir/adj stay persisted across their consumer branches; harnesses
    # running many queries clear the cache between them (registry policy).
    return stats.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


# ---------------------------------------------------------------------------
# k-core decomposition (round 7, VERDICT r6 item 6): peel the
# co-occurrence graph to its 2-, 3-, and 4-cores.

def _kcore_peel_cte(name: str, src: str, k: int) -> str:
    """One recursive peel CTE: working set = last iteration's edge rows
    plus a NULL heartbeat row.  Each step recomputes degrees over the
    surviving edges and keeps edges whose BOTH endpoints have degree
    >= k; it recurses ONLY while the edge set strictly shrank, so the
    recursion terminates at the fixpoint in <= |E| steps with no row
    blow-up (converged sets are not re-emitted).  The heartbeat row
    makes the empty-core case land correctly: when the last peel empties
    the set, the final iteration holds only the heartbeat, and the
    max-iter selection yields zero edges."""
    return f"""{name} AS (
    SELECT 0 AS iter, u, v FROM {src}
  UNION ALL
    (
    WITH cur AS (SELECT * FROM {name}),
    e AS (SELECT u, v FROM cur WHERE u IS NOT NULL),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) t GROUP BY node
    ),
    kept AS (
      SELECT e.u, e.v FROM e
      JOIN deg du ON du.node = e.u AND du.d >= {k}
      JOIN deg dv ON dv.node = e.v AND dv.d >= {k}
    ),
    sizes AS (SELECT (SELECT count(*) FROM e) AS ne,
                     (SELECT count(*) FROM kept) AS nk)
    SELECT (SELECT max(iter) FROM cur) + 1 AS iter, kk.u, kk.v
    FROM (SELECT u, v FROM kept
          UNION ALL SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)) kk
    CROSS JOIN sizes WHERE sizes.nk < sizes.ne
    )
),
core{k} AS (
  SELECT u, v FROM {name}
  WHERE iter = (SELECT max(iter) FROM {name}) AND u IS NOT NULL
)"""


def _kcore_summary_sql(k: int) -> str:
    return f"""
  SELECT {k} AS k,
         (SELECT count(DISTINCT node) FROM (
            SELECT u AS node FROM core{k} UNION ALL SELECT v FROM core{k}
          ) t) AS n_nodes,
         (SELECT count(*) FROM core{k}) AS n_edges"""


# Incremental peel: the k-core is contained in the (k-1)-core, so each
# peel starts from the previous core, not the full graph — same fixpoint,
# strictly less work (the decomposition identity the Spark side uses too).
_KCORE_ORACLE = f"""
WITH RECURSIVE {_COOC_EDGES_SQL},
{_kcore_peel_cte("peel2", "edges", 2)},
{_kcore_peel_cte("peel3", "core2", 3)},
{_kcore_peel_cte("peel4", "core3", 4)}
SELECT k, n_nodes, n_edges FROM (
{_kcore_summary_sql(2)}
  UNION ALL
{_kcore_summary_sql(3)}
  UNION ALL
{_kcore_summary_sql(4)}
) ORDER BY k
"""


def _peel_to_kcore(edges, k: int):
    """Distributed k-core peel: repeatedly drop edges with an endpoint of
    degree < k until the edge count stops changing.  Each round is one
    map-side-combining degree aggregation plus two LEFT SEMI joins keyed
    on the node — at cluster scale both shuffle on the node key and every
    round's input strictly shrinks, the standard Pregel-style peel.
    Rounds run on :func:`~pulsar_ingestion_spark.operators.iterate.fixpoint`.
    Termination is guaranteed in <= |E| rounds because the count
    strictly decreases until it repeats; the k-core fixpoint is unique
    regardless of peel order, which is what makes the result
    oracle-checkable."""
    def _peel_once(cur, _):
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        # Round 13: anti-join against the BELOW-threshold set instead of
        # semi-join against the (large) survivor set — every endpoint has
        # a degree row, so "neither endpoint in bad" == "both degrees
        # >= k".  bad shrinks to a handful of nodes after the first
        # round, so AQE broadcasts it and the edge relation stops being
        # shuffled twice per round (no broadcast hint: on adversarial
        # graphs bad can be node-scale and must stay shuffleable).
        bad = deg.filter(F.col("d") < k).select("node")
        return (
            cur.join(bad.withColumnRenamed("node", "uu"),
                     F.col("u") == F.col("uu"), "left_anti")
            .join(bad.withColumnRenamed("node", "vv"),
                  F.col("v") == F.col("vv"), "left_anti")
        )

    return fixpoint(edges.select("u", "v"), _peel_once, same_count)


@query("graph_kcore", oracle=_KCORE_ORACLE)
def q_graph_kcore(spark, sf_dir):
    """k-core decomposition of the user co-occurrence graph: the sizes
    (nodes, edges) of the 2-, 3-, and 4-cores — the standard cohesion
    ladder (which part of the graph survives requiring every member to
    have k in-core neighbors).  Peeling is the bounded-iteration
    frontier loop in the graph_hierarchy_closure / geo_dbscan style:
    degree agg + two semi-joins per round (one Spark action each), and
    the k-cores are computed INCREMENTALLY (3-core peels the 2-core,
    4-core peels the 3-core) because cores are nested — at 100 TB the
    expensive first peel happens once, and later cores work on the
    already-shrunk survivor set.  The fixpoint is order-independent, so
    the result matches the oracle's genuine recursive-CTE peel exactly.
    Reference basis: consumer-graph cohesion over the splitter's event
    stream (docs/architecture.md:113-118), extending graph_degree_stats
    from degree distribution to degeneracy structure."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    cur = _cooc_edges(ev)
    reports = []
    for k in (2, 3, 4):
        cur = _peel_to_kcore(cur, k)
        nodes_cnt = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .agg(F.count_distinct("node").alias("n_nodes"))
        )
        edges_cnt = cur.agg(F.count("*").cast("bigint").alias("n_edges"))
        reports.append(
            nodes_cnt.crossJoin(F.broadcast(edges_cnt))
            .select(F.lit(k).alias("k"), "n_nodes", "n_edges")
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# Round 8: bounded multi-source BFS — per-hop reachability counts from a
# deterministic seed set.  The frontier loop is the canonical Pregel
# traversal (neighbor join + visited anti-join per hop), and the hop
# bound makes it oracle-checkable via a recursive CTE.

_BFS_SEEDS = 5
_BFS_MAX_HOPS = 4

_BFS_ORACLE = f"""
WITH RECURSIVE {_COOC_EDGES_SQL},
bidir AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
), seeds AS (
  SELECT node FROM (SELECT DISTINCT node FROM bidir) t
  ORDER BY node LIMIT {_BFS_SEEDS}
), reach(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT b.nbr, r.dist + 1
  FROM reach r JOIN bidir b ON b.node = r.node
  WHERE r.dist < {_BFS_MAX_HOPS}
), best AS (
  SELECT node, min(dist) AS dist FROM reach GROUP BY node
)
SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
FROM best GROUP BY dist
"""


@query("graph_bfs_hops", oracle=_BFS_ORACLE)
def q_graph_bfs_hops(spark, sf_dir):
    """Multi-source BFS over the user co-occurrence graph, bounded at
    {hops} hops: how many users sit at each hop distance from the seed
    cohort (the {seeds} smallest user ids — deterministic, so the result
    is hash-checkable against a recursive-CTE oracle).

    Plan shape (the Pregel frontier loop, same discipline as
    graph_kcore's peel): per hop, ONE equi-join of the bidirectional
    edge list against the current frontier (shuffle keyed on the node
    id) + ONE anti-join against the visited set, one checkpointed round
    per hop (``bfs_hops``).  The frontier strictly grows into unvisited
    territory, so per-hop work is bounded by the edges incident to the
    frontier — never a full-graph pass after the first hop, and the hop
    bound caps total rounds regardless of graph diameter.  At 100 TB
    the edge list would be bucketed by node so every hop's join is
    exchange-free on the big side.  Early exit on an empty frontier.
    Reference basis: consumer-reach analysis over the splitter's event
    stream (docs/architecture.md:113-118), extending graph_degree_stats
    to traversal distance.
    """.format(hops=_BFS_MAX_HOPS, seeds=_BFS_SEEDS)
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev)
    bidir = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .persist()
    )
    seeds = bidir.select("node").distinct().orderBy("node").limit(_BFS_SEEDS)
    visited = bfs_hops(bidir, seeds, _BFS_MAX_HOPS)
    bidir.unpersist()
    return visited.groupBy("dist").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


def bfs_hops_per_seed(bidir, seeds, max_hops: int):
    """Per-seed BFS in ONE frontier loop (round 13): ``seeds`` is a
    (src, node) relation; state is keyed on (src, node) so every seed's
    traversal advances in the same hop join — closeness previously ran
    ``bfs_hops`` once per seed, paying max_hops × #seeds checkpointed
    rounds instead of max_hops.  Returns (src, node, dist) with the MIN
    hop distance per (seed, node), dist <= max_hops.  Hop d expands the
    rows at dist d-1 and anti-joins the visited set; the loop stops
    early at a hop that adds no row (the visited count repeats)."""
    def _hop(visited, d):
        frontier = visited.filter(F.col("dist") == d - 1).select("src", "node")
        fresh = (
            bidir.join(frontier, "node")
            .select("src", F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("src", "node"), ["src", "node"], "left_anti")
        )
        return visited.unionAll(fresh.withColumn("dist", F.lit(d)))

    return fixpoint(
        seeds.select("src", "node").withColumn("dist", F.lit(0)),
        _hop,
        same_count,
        max_iters=max_hops,
    )


def bfs_hops(bidir, seeds, max_hops: int):
    """Frontier-loop BFS: ``bidir`` is a (node, nbr) bidirectional edge
    relation (persist it — every hop joins against it), ``seeds`` a
    (node) relation at distance 0.  Returns (node, dist) with the MIN
    hop distance per reachable node, dist <= max_hops: the per-seed
    loop over one constant seed source."""
    return bfs_hops_per_seed(
        bidir, seeds.select(F.lit(0).alias("src"), "node"), max_hops
    ).select("node", "dist")


# ---------------------------------------------------------------------------
# Round 8: synchronous label propagation (communities) and Jaccard
# link prediction on the co-occurrence graph.

_LPA_ROUNDS = 3


def _lpa_rounds_sql(rounds: int) -> str:
    parts = [
        "bidir AS (SELECT u AS node, v AS nbr FROM edges"
        " UNION ALL SELECT v AS node, u AS nbr FROM edges)",
        "l0 AS (SELECT DISTINCT node, node AS label FROM bidir)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"v{i} AS (SELECT b.node, l.label, count(*) AS cnt"
            f" FROM bidir b JOIN l{i-1} l ON l.node = b.nbr"
            f" GROUP BY b.node, l.label)"
        )
        parts.append(
            f"l{i} AS (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER ("
            f"PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM v{i}"
            f") t WHERE rn = 1)"
        )
    return ",\n".join(parts)


_LPA_ORACLE = f"""
WITH {_COOC_EDGES_SQL},
{_lpa_rounds_sql(_LPA_ROUNDS)},
sizes AS (
  SELECT label, count(*) AS community_size
  FROM l{_LPA_ROUNDS} GROUP BY label
)
SELECT CAST(community_size AS BIGINT) AS community_size,
       CAST(count(*) AS BIGINT) AS n_communities
FROM sizes GROUP BY community_size
"""




def label_propagation(edges, rounds: int):
    """Synchronous LPA over undirected (u, v) edges: majority neighbor
    vote, min-label tie-break, labels seeded with node ids.  Returns
    (node, label) after ``rounds`` rounds.  Each round is one join +
    one vote count + one per-node argmax (all partitioned by node).

    Round 13: the per-node (desc cnt, asc label) argmax is a
    ``best_struct`` hash aggregate instead of a row_number window —
    same winner, but partial map-side aggregation and no per-partition
    sort: measured 6.44 → 5.54 s at sf0.1, output identical.

    Round 13 (optimization): round 1 is evaluated ALGEBRAICALLY.  With
    id-seeded labels every neighbor votes its own id, and bidir rows
    are distinct pairs, so every round-1 vote count is exactly 1 and
    the (desc cnt, asc label) argmax degenerates to MIN(neighbor id) —
    one map-side-combining aggregate replaces round 1's label join,
    (node, label) vote shuffle, argmax shuffle AND the seed distinct.
    Rounds 2+ run the general loop unchanged."""
    # bidir is hash-partitioned on nbr BEFORE the persist (round 13):
    # every round's label join keys on nbr, so the cached partitioning
    # serves all of them — the edge relation is exchanged once, not once
    # per round (guide §2.4 — share the exchange).
    bidir = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    ).repartition("nbr").persist()
    if rounds <= 0:
        return bidir.select("node").distinct().withColumn("label", F.col("node"))
    # Round 1 (algebraic min of neighbor ids) groups by NBR, riding the
    # shared exchange: bidir is symmetric, so {y : (x,y)} == {y : (y,x)}
    # and min(node) grouped by nbr == min(nbr) grouped by node.
    labels = bidir.groupBy("nbr").agg(F.min("node").alias("label")).select(
        F.col("nbr").alias("node"), "label"
    )
    for _ in range(rounds - 1):
        votes = (
            bidir.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = votes.groupBy("node").agg(
            best_struct(votes, [("cnt", "desc"), ("label", "asc")]).alias("b")
        )
        labels = best.select("node", F.col("b.label").alias("label"))
    return labels





@query("graph_label_propagation", oracle=_LPA_ORACLE)
def q_graph_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation (3 rounds,
    deterministic majority vote with min-label tie-break, seeded with
    node ids) on the user co-occurrence graph; reports the community
    size distribution.

    Each round is one hash join (labels onto the bidirectional edge
    list) + one (node, label) vote count + one per-node argmax window —
    all partitioned by node, so parallelism scales with |V|, and label
    relations stay node-sized.  Synchronous + deterministic tie-break
    makes the fixed round count exactly reproducible in ANSI SQL (the
    async variant is faster to converge but order-dependent — wrong for
    an oracle-checked operator)."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev).persist()
    labels = label_propagation(edges, _LPA_ROUNDS)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return sizes.groupBy("community_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities")
    ).select(F.col("community_size").cast("bigint").alias("community_size"),
             "n_communities")


_LP_CAP = 64
_LP_TOPK = 20

_LINKPRED_ORACLE = f"""
WITH {_COOC_EDGES_SQL},
bidir AS (SELECT u AS node, v AS nbr FROM edges
          UNION ALL SELECT v AS node, u AS nbr FROM edges),
capped AS (
  SELECT node, nbr FROM (
    SELECT node, nbr, row_number() OVER (
      PARTITION BY node
      ORDER BY CAST(('0x' || substring(md5(CAST(nbr AS VARCHAR)), 1, 8)) AS BIGINT),
               nbr) AS rn
    FROM bidir
  ) t WHERE rn <= {_LP_CAP}
),
wedges AS (
  SELECT DISTINCT a.nbr AS u, b.nbr AS w
  FROM capped a JOIN capped b ON a.node = b.node AND a.nbr < b.nbr
),
cands AS (
  SELECT wd.u, wd.w FROM wedges wd
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = wd.u AND e.v = wd.w)
),
adj AS (
  SELECT node, list(nbr) AS nbrs, count(*) AS deg FROM bidir GROUP BY node
),
scored AS (
  SELECT c.u, c.w,
         len(list_intersect(ua.nbrs, wa.nbrs)) AS common_neighbors,
         ua.deg + wa.deg - len(list_intersect(ua.nbrs, wa.nbrs)) AS uni
  FROM cands c
  JOIN adj ua ON ua.node = c.u
  JOIN adj wa ON wa.node = c.w
)
SELECT u, w, CAST(common_neighbors AS BIGINT) AS common_neighbors,
       round(CAST(common_neighbors AS DOUBLE) / uni, 6) AS jaccard
FROM scored
ORDER BY jaccard DESC, u, w
LIMIT {_LP_TOPK}
"""


@query("graph_jaccard_linkpred", oracle=_LINKPRED_ORACLE)
def q_graph_jaccard_linkpred(spark, sf_dir):
    """Link prediction: top-20 non-adjacent user pairs by neighborhood
    Jaccard similarity.  Candidates are distance-2 pairs generated as
    wedges around each center node; the wedge fan-out is the graph's
    Σdeg² — capped at 64 neighbors per center (deterministic
    portable-hash order, the _COOC_CAP discipline) so no hub goes
    quadratic.  Jaccard is then computed on the FULL (uncapped)
    neighbor sets via array_intersect on grouped adjacency arrays —
    the triangle-count lesson (per-edge array ops beat a three-way
    join's O(E·d) blowup).  Anti-join removes existing edges; the
    top-k is TakeOrdered (no global sort)."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev).persist()
    return jaccard_linkpred(edges, _LP_CAP, _LP_TOPK)


def jaccard_linkpred(edges, cap: int, topk: int, prescore: int = 4096,
                     max_direct_deg: int = 4096,
                     direct_work_budget: int = 1_500_000_000):
    """Top-k non-adjacent pairs by neighborhood Jaccard over undirected
    (u, v) edges — see q_graph_jaccard_linkpred for the plan shape.

    Round-10 re-plan (VERDICT r9 item 4 — the 100× GC cliff): the old
    plan joined EVERY candidate pair against two full adjacency arrays;
    at 100× the hub arrays (millions of neighbors, 32 MB humongous
    allocations) thrashed the collector even though the WORK was linear.
    An exact two-phase prune keeps hub arrays out of the join — and
    usually out of existence:

      1. candidates carry only degrees (skinny longs).  The degree-ratio
         bound ``j ≤ min(du,dw)/max(du,dw)`` (|∩| ≤ min, |∪| ≥ max)
         rounds to ``ub``.
      2. exactly score the ``prescore`` best candidates by (ub, u, w)
         — cheap: near-equal-degree pairs have SMALL arrays — and take
         τ = the topk-th rounded jaccard among them.
      3. any candidate with ub < τ has round(j) ≤ ub < τ (rounding is
         monotone) while ≥ topk scored candidates sit at ≥ τ, so it can
         NEVER enter the top-k: drop it.  Survivors — and only they —
         get adjacency arrays, built AFTER a semi-join of bidir on the
         surviving node set, so a hub that survives no pair never
         materializes its array at all (hub–small pairs have ub ≈ 0).

    Round-13 measurement: on FLAT-degree graphs the prune is a no-op
    that still pays its fixed cost — at sf0.1 (maxdeg 222) τ kept all
    316 k candidates while the prescore phase doubled the wall (15.2 s
    → 7.5 s without it, outputs identical).  The prune pays only when
    degree skew makes hub–small candidates droppable, so it is GATED
    on scalar skew/work stats; round 13 (optimization) computes them
    as UPPER BOUNDS from skinny relations — global max degree plus
    per-center Σ C(cnt,2) and Σ (cnt−1)·Σdeg over the capped member
    lists — so the gate action no longer materializes the 316 k-pair
    candidate relation at all (it previously ran the wedge self-join +
    anti-join + two degree joins eagerly just to decide the path).
    Bounds over-estimate, so skewed graphs still take the τ path (the
    100× hub-array GC cliff, SCALE.md §6q).

    The direct path is ONE lazy plan: capped member arrays → map-side
    pair explode (the _cooc_edges round-13 discipline, replacing the
    wedge self-join), then a join against full adjacency arrays where
    ``array_contains(nbrs_u, w)`` replaces the edge anti-join and
    ``size(nbrs)`` replaces the two degree joins — three shuffles
    fewer, and no intermediate persist.  Measured 8.5 → 5.6 s at
    sf0.1 (isolated min-of-3, identical output).

    Either path is provably identical to the unpruned plan (same
    rounded scores, same total order); the only driver-side values are
    τ and three scalar bound stats — the CC-loop convergence class."""
    # bidir is hash-partitioned on node BEFORE the persist: the cap
    # window, the degree aggregate, the capped-member groupBy and the
    # adjacency groupBy all key on node, so one exchange up front serves
    # every consumer (guide §2.4 — share the exchange).  Measured 6.1 →
    # 3.8 s at sf0.1 on this id alone.
    bidir = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
            edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
        .repartition("node")
        .persist()
    )
    wcap = Window.partitionBy("node").orderBy(md5_lane(F.col("nbr")), F.asc("nbr"))
    capped = (
        bidir.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    deg = bidir.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))

    prescore = max(prescore, topk)
    # Gate stats as scalar UPPER BOUNDS from the DEGREE relation alone
    # (round 13: the old gate joined the capped member list against
    # degrees — a window sort + join executed eagerly just to pick the
    # path; capped is now only built lazily inside the chosen plan):
    #   cnt_c      = |capped members of c| = least(deg_c, cap)  (exact)
    #   nc_bound   = Σ_c C(cnt_c, 2)                 ≥ |candidates|
    #   work_bound = Σ_c (cnt_c − 1)·cnt_c·maxdeg
    #                ≥ Σ_c (cnt_c − 1)·Σ_{u∈S_c} deg_u ≥ Σ_cands (du + dw)
    #   maxdeg     = global max degree (covers every candidate endpoint)
    cnt = F.least(F.col("deg"), F.lit(cap))
    gate = deg.agg(
        F.sum(cnt * (cnt - 1) / 2).alias("nc_bound"),
        F.sum((cnt - 1) * cnt).alias("work_sum"),
        F.max("deg").alias("maxdeg"),
    ).first()
    flat = (gate["maxdeg"] or 0) <= max_direct_deg
    work_bound = (gate["work_sum"] or 0) * (gate["maxdeg"] or 0)
    direct = (
        gate["nc_bound"] is None or gate["nc_bound"] <= prescore
        or (flat and work_bound <= direct_work_budget)
    )

    # Wedge pairs generated map-side from each center's sorted capped
    # member array (≤ cap elements — bounded at any scale); identical
    # pair set to the capped self-join with a.nbr < b.nbr.
    wedges = (
        capped.groupBy("node")
        .agg(F.sort_array(F.collect_list("nbr")).alias("m"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(m, (x, i) -> "
                    "transform(slice(m, i+2, size(m)), "
                    "y -> struct(x AS u, y AS w))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.w")
        .distinct()
    )

    if direct:
        # Adjacency arrays carry everything the scoring needs: degree =
        # size(nbrs), adjacency test = array_contains.  On a flat graph
        # every array is bounded by max_direct_deg; in the small-nc
        # skewed case restrict the build to candidate endpoints so no
        # unneeded hub array materializes.
        if flat:
            adj = bidir.groupBy("node").agg(F.collect_list("nbr").alias("nbrs"))
        else:
            need = (
                wedges.select(F.col("u").alias("node"))
                .unionAll(wedges.select(F.col("w").alias("node")))
                .distinct()
            )
            adj = (
                bidir.join(need, "node", "left_semi")
                .groupBy("node")
                .agg(F.collect_list("nbr").alias("nbrs"))
            )
        ua = adj.select(F.col("node").alias("u"), F.col("nbrs").alias("un"))
        wa = adj.select(F.col("node").alias("w"), F.col("nbrs").alias("wn"))
        inter = F.size(F.array_intersect(F.col("un"), F.col("wn")))
        ud, wd = F.size("un"), F.size("wn")
        return (
            wedges.join(ua, "u").join(wa, "w")
            .filter(~F.array_contains(F.col("un"), F.col("w")))
            .select(
                "u", "w",
                inter.cast("bigint").alias("common_neighbors"),
                F.round(inter.cast("double") / (ud + wd - inter), 6).alias("jaccard"),
            )
            .orderBy(F.desc("jaccard"), F.asc("u"), F.asc("w"))
            .limit(topk)
        )

    # τ-prune path (skewed graphs) — unchanged from round 10.
    cands = wedges.withColumnRenamed("w", "v").join(
        edges, ["u", "v"], "left_anti"
    ).withColumnRenamed("v", "w")
    cand_deg = (
        cands
        .join(deg.select(F.col("node").alias("u"), F.col("deg").alias("ud")), "u")
        .join(deg.select(F.col("node").alias("w"), F.col("deg").alias("wd")), "w")
        .withColumn(
            "ub",
            F.round(
                F.least("ud", "wd").cast("double") / F.greatest("ud", "wd"), 6
            ),
        )
        .persist()
    )

    def _exact(subset):
        # adjacency arrays ONLY for nodes this subset touches
        need = (
            subset.select(F.col("u").alias("node"))
            .unionAll(subset.select(F.col("w").alias("node")))
            .distinct()
        )
        adj = (
            bidir.join(need, "node", "left_semi")
            .groupBy("node")
            .agg(F.collect_list("nbr").alias("nbrs"))
        )
        ua = adj.select(F.col("node").alias("u"), F.col("nbrs").alias("un"))
        wa = adj.select(F.col("node").alias("w"), F.col("nbrs").alias("wn"))
        inter = F.size(F.array_intersect(F.col("un"), F.col("wn")))
        return subset.join(ua, "u").join(wa, "w").select(
            "u", "w",
            inter.cast("bigint").alias("common_neighbors"),
            F.round(
                inter.cast("double") / (F.col("ud") + F.col("wd") - inter), 6
            ).alias("jaccard"),
        )

    s = cand_deg.orderBy(F.desc("ub"), F.asc("u"), F.asc("w")).limit(prescore)
    tau_row = (
        _exact(s).orderBy(F.desc("jaccard"), F.asc("u"), F.asc("w"))
        .limit(topk).agg(F.min("jaccard")).collect()
    )
    tau = tau_row[0][0]
    survivors = cand_deg.filter(F.col("ub") >= F.lit(tau))
    return _exact(survivors).orderBy(
        F.desc("jaccard"), F.asc("u"), F.asc("w")
    ).limit(topk)


# ---------------------------------------------------------------------------
# Round 8: degree assortativity of the co-occurrence graph.

_ASSORT_ORACLE = f"""
WITH {_COOC_EDGES_SQL},
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) t GROUP BY node
), pairs AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
  UNION ALL
  SELECT dv.d AS dx, du.d AS dy
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
), m AS (
  SELECT count(*) AS n,
         SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
  FROM pairs
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 6)
         AS assortativity
FROM m
"""


@query("graph_assortativity", oracle=_ASSORT_ORACLE)
def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity: the Pearson correlation of endpoint degrees
    over the (symmetrized) edge list — positive when hubs attach to
    hubs, negative for hub-and-spoke topologies; the one-number summary
    that decides whether skew mitigations (salting, cap-and-verify)
    will be load-bearing on this graph.

    Degrees are one grouped count; the edge-degree join shuffles the
    edge list twice by endpoint; the correlation moments are exact
    integer sums (degree values), so r is one IEEE expression."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev).persist()
    return degree_assortativity(edges)


def degree_assortativity(edges):
    """Pearson correlation of endpoint degrees over the symmetrized
    (u, v) edge list — see q_graph_assortativity for the plan shape."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    joined = edges.join(du, "u").join(dv, "v")
    pairs = joined.select(
        F.col("du").alias("dx"), F.col("dv").alias("dy")
    ).unionAll(joined.select(F.col("dv").alias("dx"), F.col("du").alias("dy")))
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"), F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        (n / 2).cast("bigint").alias("n_edges"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)), 6
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Round 8: modularity of the label-propagation partition.

_MODULARITY_ORACLE = f"""
WITH {_COOC_EDGES_SQL},
{_lpa_rounds_sql(_LPA_ROUNDS)},
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) t GROUP BY node
), m AS (
  SELECT count(*) AS m FROM edges
), within AS (
  SELECT lu.label, count(*) AS e_c
  FROM edges e
  JOIN l{_LPA_ROUNDS} lu ON lu.node = e.u
  JOIN l{_LPA_ROUNDS} lv ON lv.node = e.v
  WHERE lu.label = lv.label
  GROUP BY lu.label
), comm AS (
  SELECT l.label, SUM(d.d) AS d_c
  FROM l{_LPA_ROUNDS} l JOIN deg d ON d.node = l.node
  GROUP BY l.label
), terms AS (
  SELECT CAST(round(
           CAST(coalesce(w.e_c, 0) AS DOUBLE) / m.m
           - (CAST(c.d_c AS DOUBLE) / (2 * m.m))
             * (CAST(c.d_c AS DOUBLE) / (2 * m.m)), 8) AS DECIMAL(18,8))
           AS term
  FROM comm c LEFT JOIN within w ON w.label = c.label CROSS JOIN m
)
SELECT CAST((SELECT count(*) FROM comm) AS BIGINT) AS n_communities,
       CAST((SELECT m FROM m) AS BIGINT) AS m_edges,
       round(CAST(SUM(term) AS DOUBLE), 6) AS modularity
FROM terms
"""


@query("graph_modularity", oracle=_MODULARITY_ORACLE)
def q_graph_modularity(spark, sf_dir):
    """Newman modularity Q of the 3-round label-propagation partition:
    Σ_c [e_c/m − (d_c/2m)²] — the one-number quality score for the
    communities graph_label_propagation emits (Q ≈ 0: no better than
    random; Q ≳ 0.3: real structure).  Per-community terms are
    rounded-to-8 then DECIMAL-summed; everything upstream is the LPA
    plan plus two count aggregates."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev).persist()
    labels = label_propagation(edges, _LPA_ROUNDS).persist()
    return newman_modularity(edges, labels)


def newman_modularity(edges, labels):
    """Newman modularity Q of a (node, label) partition over undirected
    (u, v) edges — see q_graph_modularity for the formula and plan."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    m_cnt = edges.count()
    lu = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    within = (
        edges.join(lu, "u").join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    comm = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").alias("d_c"))
    )
    terms = comm.join(within, "label", "left").select(
        F.round(
            F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / m_cnt
            - (F.col("d_c").cast("double") / (2 * m_cnt))
            * (F.col("d_c").cast("double") / (2 * m_cnt)), 8
        ).cast("decimal(18,8)").alias("term")
    )
    ncomm = comm.agg(F.count(F.lit(1)).cast("bigint").alias("n_communities"))
    agg = terms.agg(
        F.round(F.sum("term").cast("double"), 6).alias("modularity")
    )
    return ncomm.crossJoin(agg).select(
        "n_communities", F.lit(m_cnt).cast("bigint").alias("m_edges"),
        "modularity",
    )


# ---------------------------------------------------------------------------
# Round 8: global clustering coefficient (transitivity).

_CLUSTERING_ORACLE = f"""
WITH {_COOC_EDGES_SQL},
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) t GROUP BY node
), ori AS (
  SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.u ELSE e.v END AS lo,
         CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.v ELSE e.u END AS hi
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
), tri AS (
  SELECT count(*) AS n_triangles
  FROM ori ab JOIN ori bc ON bc.lo = ab.hi
  JOIN ori ac ON ac.lo = ab.lo AND ac.hi = bc.hi
), wed AS (
  SELECT SUM(degree * (degree - 1) / 2) AS n_wedges FROM deg
)
SELECT CAST(t.n_triangles AS BIGINT) AS n_triangles,
       CAST(w.n_wedges AS BIGINT) AS n_wedges,
       round(3.0 * t.n_triangles / w.n_wedges, 6) AS transitivity
FROM tri t CROSS JOIN wed w
"""


@query("graph_clustering_coeff", oracle=_CLUSTERING_ORACLE)
def q_graph_clustering_coeff(spark, sf_dir):
    """Global clustering coefficient (transitivity): 3·triangles /
    wedges, with triangles from the degree-ordered orientation plan
    (q_graph_triangle_count — each counted once, adjacency arrays
    capped at O(√E)) and wedges as the exact Σ d(d−1)/2 — the
    one-number 'how cliquish' summary that calibrates expectations for
    the community (LPA/modularity) family."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev).persist()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .persist()
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    u_first = (F.col("du.degree") < F.col("dv.degree")) | (
        (F.col("du.degree") == F.col("dv.degree")) & (F.col("u") < F.col("v"))
    )
    ori = (
        edges.join(du, F.col("du.node") == F.col("u"))
        .join(dv, F.col("dv.node") == F.col("v"))
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
        .persist()
    )
    adj = ori.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    tri = (
        ori.join(
            adj.select(F.col("lo").alias("anode"), F.col("nbrs").alias("lo_nbrs")),
            F.col("anode") == F.col("lo"),
        )
        .join(
            adj.select(F.col("lo").alias("bnode"), F.col("nbrs").alias("hi_nbrs")),
            F.col("bnode") == F.col("hi"),
        )
        .select(F.size(F.array_intersect("lo_nbrs", "hi_nbrs")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_triangles"))
    )
    wed = deg.agg(
        F.sum(F.col("degree") * (F.col("degree") - 1) / 2).alias("n_wedges")
    )
    return tri.crossJoin(wed).select(
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        F.col("n_wedges").cast("bigint").alias("n_wedges"),
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
        .alias("transitivity"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 4: per-seed closeness + harmonic centrality — the
# traversal metric family next to graph_bfs_hops (which aggregates one
# multi-source reach; this keeps distances PER SOURCE).

_CLOSE_SEEDS = 4

_CLOSENESS_ORACLE = f"""
WITH RECURSIVE {_COOC_EDGES_SQL},
bidir AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
), seeds AS (
  SELECT node FROM (SELECT DISTINCT node FROM bidir) t
  ORDER BY node LIMIT {_CLOSE_SEEDS}
), reach(src, node, dist) AS (
  SELECT node, node, 0 FROM seeds
  UNION
  SELECT r.src, b.nbr, r.dist + 1
  FROM reach r JOIN bidir b ON b.node = r.node
  WHERE r.dist < {_BFS_MAX_HOPS}
), best AS (
  SELECT src, node, min(dist) AS dist FROM reach GROUP BY src, node
), byd AS (
  SELECT src, dist, count(*) AS cnt FROM best WHERE dist > 0
  GROUP BY src, dist
)
SELECT src,
       CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_reached,
       CAST(COALESCE(SUM(dist * cnt), 0) AS BIGINT) AS sum_dist,
       round(CAST(SUM(cnt) AS DOUBLE) / SUM(dist * cnt), 6) AS closeness,
       round(CAST(SUM(CAST(round(CAST(cnt AS DOUBLE) / dist, 8)
                           AS DECIMAL(18,8))) AS DOUBLE), 6) AS harmonic
FROM byd GROUP BY src
"""


@query("graph_closeness_centrality", oracle=_CLOSENESS_ORACLE)
def q_graph_closeness_centrality(spark, sf_dir):
    """Closeness ((n-1)/SUM d, the bounded-horizon variant) and harmonic
    centrality (SUM 1/d — defined even with unreachable nodes) for the
    {seeds} smallest user ids over the hub-capped co-occurrence graph,
    horizon {hops} hops.  One frontier-loop BFS for all seeds,
    ``bfs_hops_per_seed`` (hop joins are node-keyed equi-joins; seeds are a
    model-sized driver list, never a row collect).  Distances collapse
    to the (seed, dist) histogram — at most {hops} rows per seed — so
    the 1/d fold is a decimal sum over an aggregate-sized relation.
    Reference basis: reach/influence ranking over the splitter's event
    stream (docs/architecture.md:113-118), extending graph_bfs_hops.
    """.format(seeds=_CLOSE_SEEDS, hops=_BFS_MAX_HOPS)
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev)
    bidir = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .persist()
    )
    # Round 13: ALL seeds traverse in one (src, node)-keyed frontier loop
    # (bfs_hops_per_seed) — max_hops checkpointed rounds total instead of
    # max_hops × #seeds.  Seeds stay a model-sized relation; no driver
    # row loop.
    seeds = (
        bidir.select("node").distinct().orderBy("node").limit(_CLOSE_SEEDS)
        .select(F.col("node").alias("src"), "node")
        .localCheckpoint(eager=True)
    )
    spark_ = bidir.sparkSession
    if seeds.isEmpty():  # edgeless graph: zero rows, stable schema
        bidir.unpersist()
        return spark_.createDataFrame(
            [],
            "src long, n_reached long, sum_dist long, "
            "closeness double, harmonic double",
        )
    visited = bfs_hops_per_seed(bidir, seeds, _BFS_MAX_HOPS)
    byd = (
        visited.filter(F.col("dist") > 0)
        .groupBy("src", "dist")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("src").cast("long").alias("src"), "dist", "cnt")
    )
    bidir.unpersist()
    cnt, dist = F.col("cnt"), F.col("dist")
    return byd.groupBy("src").agg(
        F.coalesce(F.sum(cnt), F.lit(0)).cast("bigint").alias("n_reached"),
        F.coalesce(F.sum(dist * cnt), F.lit(0)).cast("bigint").alias("sum_dist"),
        F.round(F.sum(cnt).cast("double") / F.sum(dist * cnt), 6).alias("closeness"),
        F.round(
            F.sum(
                F.round(cnt.cast("double") / dist, 8).cast("decimal(18,8)")
            ).cast("double"),
            6,
        ).alias("harmonic"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities on the DIRECTED event-type transition graph
# (the pagerank edge relation): which event types are strong pointers
# (hubs) vs strong targets (authorities).  Two mutual-reinforcement
# rounds with scaled-BIGINT share normalization between rounds, so every
# fold is an exact integer/decimal sum — no double-summation order
# anywhere (the pagerank DECIMAL(28,15) discipline, taken further).

_HITS_ORACLE = """
WITH seq AS (
  SELECT event_type AS cur,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), edges AS (
  SELECT prev, cur, count(*) AS cnt FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
), nodes AS (
  SELECT DISTINCT event_type AS node FROM events
), a1 AS (
  SELECT nodes.node, CAST(coalesce(s.w, 0) AS BIGINT) AS a1
  FROM nodes LEFT JOIN (
    SELECT cur, SUM(cnt) AS w FROM edges GROUP BY cur
  ) s ON s.cur = nodes.node
), a1tot AS (SELECT CAST(SUM(a1) AS DOUBLE) AS ta FROM a1
), a1s AS (
  SELECT node, CAST(round(CAST(a1 AS DOUBLE) * 100000000 / NULLIF(ta, 0), 0)
               AS BIGINT) AS a1s
  FROM a1, a1tot
), h1 AS (
  SELECT nodes.node, CAST(coalesce(s.h, 0) AS DECIMAL(38,0)) AS h1
  FROM nodes LEFT JOIN (
    SELECT prev, SUM(CAST(cnt AS DECIMAL(38,0)) * a1s.a1s) AS h
    FROM edges JOIN a1s ON a1s.node = edges.cur GROUP BY prev
  ) s ON s.prev = nodes.node
), h1tot AS (SELECT CAST(SUM(h1) AS DOUBLE) AS th FROM h1
), h1s AS (
  SELECT node, h1,
         CAST(round(CAST(h1 AS DOUBLE) * 100000000 / NULLIF(th, 0), 0)
              AS BIGINT) AS h1s
  FROM h1, h1tot
), a2 AS (
  SELECT nodes.node, CAST(coalesce(s.a, 0) AS DECIMAL(38,0)) AS a2
  FROM nodes LEFT JOIN (
    SELECT cur, SUM(CAST(cnt AS DECIMAL(38,0)) * h1s.h1s) AS a
    FROM edges JOIN h1s ON h1s.node = edges.prev GROUP BY cur
  ) s ON s.cur = nodes.node
), a2tot AS (SELECT CAST(SUM(a2) AS DOUBLE) AS ta2 FROM a2)
SELECT a2.node,
       round(CAST(a2 AS DOUBLE) / NULLIF(ta2, 0), 6) AS authority,
       round(CAST(h1 AS DOUBLE) / NULLIF(th, 0), 6) AS hub
FROM a2 JOIN h1s ON h1s.node = a2.node, a2tot, h1tot
ORDER BY a2.node
"""


@query("graph_hits", oracle=_HITS_ORACLE)
def q_graph_hits(spark, sf_dir):
    """HITS (Kleinberg 1999) hubs & authorities, weighted, two mutual-
    reinforcement rounds on the event-type transition graph: a1 =
    weighted in-degree; h1(i) = SUM_j w(i,j)*a1share(j); a2(j) =
    SUM_i w(i,j)*h1share(i).  Between rounds scores normalize to x1e8
    scaled-BIGINT shares (one IEEE division + round each — the
    h8/keyed_running_sums discipline), so every fold is an exact
    integer/DECIMAL sum in BOTH engines and the iteration never sums
    raw doubles.  The stream is touched once (lag window + the <=
    |types|^2 edge aggregate); all iteration relations are model-sized
    broadcasts, so iteration cost is independent of data scale —
    exactly the pagerank plan shape (graph_pagerank docstring).  Output:
    final authority/hub shares (sum to 1 each)."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"), F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    edges = seq.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cnt")).persist()
    nodes = ev.select(F.col("event_type").alias("node")).distinct()

    def shares(scores, col, scaled):
        """x1e8 scaled-BIGINT shares of an exact integer/decimal score."""
        tot = scores.agg(F.sum(col).cast("double").alias("t"))
        return scores.crossJoin(F.broadcast(tot)).select(
            "node",
            F.col(col),
            F.round(
                F.col(col).cast("double") * 100000000
                / F.nullif(F.col("t"), F.lit(0)),
                0,
            ).cast("bigint").alias(scaled),
            F.col("t").alias(f"{col}_tot"),
        )

    a1 = nodes.join(
        F.broadcast(edges.groupBy("cur").agg(F.sum("cnt").alias("w"))),
        nodes["node"] == F.col("cur"), "left",
    ).select("node", F.coalesce(F.col("w"), F.lit(0)).cast("bigint").alias("a1"))
    a1s = shares(a1, "a1", "a1s")
    h1 = nodes.join(
        F.broadcast(
            edges.join(F.broadcast(a1s), edges["cur"] == a1s["node"])
            .groupBy("prev")
            .agg(F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("a1s")).alias("h"))
        ),
        nodes["node"] == F.col("prev"), "left",
    ).select(
        "node", F.coalesce(F.col("h"), F.lit(0)).cast("decimal(38,0)").alias("h1")
    )
    h1s = shares(h1, "h1", "h1s")
    a2 = nodes.join(
        F.broadcast(
            edges.join(F.broadcast(h1s), edges["prev"] == h1s["node"])
            .groupBy("cur")
            .agg(F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("h1s")).alias("a"))
        ),
        nodes["node"] == F.col("cur"), "left",
    ).select(
        "node", F.coalesce(F.col("a"), F.lit(0)).cast("decimal(38,0)").alias("a2")
    )
    a2t = a2.agg(F.sum("a2").cast("double").alias("ta2"))
    return (
        a2.crossJoin(F.broadcast(a2t))
        .join(F.broadcast(h1s.select("node", "h1", "h1_tot")), "node")
        .select(
            "node",
            F.round(
                F.col("a2").cast("double") / F.nullif(F.col("ta2"), F.lit(0)), 6
            ).alias("authority"),
            F.round(
                F.col("h1").cast("double") / F.nullif(F.col("h1_tot"), F.lit(0)), 6
            ).alias("hub"),
        )
    )


# ---------------------------------------------------------------------------
# Round 12: k-truss decomposition — the triangle-cohesion ladder
# (Cohen 2008).  An edge survives the k-truss iff it participates in at
# least k-2 triangles among surviving edges; the fixpoint is unique
# regardless of peel order (same property that makes k-core
# oracle-checkable).  The 4-truss peel starts from the 3-truss
# (k-trusses nest), mirroring the k-core incremental-peel identity.


def _ktruss_peel_cte(name: str, src: str, k: int) -> str:
    """One recursive truss-peel CTE (the _kcore_peel_cte pattern: the
    recursive self-reference is aliased ONCE into ``cur``, then per-edge
    SUPPORT is recomputed by the ordered wedge-close triangle join and
    edges below k-2 drop; recursion continues only while the edge set
    strictly shrank, heartbeat row for the empty-truss case)."""
    return f"""{name} AS (
    SELECT 0 AS iter, u, v FROM {src}
  UNION ALL
    (
    WITH cur AS (SELECT * FROM {name}),
    e AS (SELECT u, v FROM cur WHERE u IS NOT NULL),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    sup AS (
      SELECT u, v, count(*) AS s FROM (
        SELECT x AS u, y AS v FROM tri
        UNION ALL SELECT x AS u, z AS v FROM tri
        UNION ALL SELECT y AS u, z AS v FROM tri
      ) r GROUP BY u, v
    ),
    kept AS (
      SELECT e.u, e.v FROM e
      LEFT JOIN sup ON sup.u = e.u AND sup.v = e.v
      WHERE coalesce(sup.s, 0) >= {k - 2}
    ),
    sizes AS (SELECT (SELECT count(*) FROM e) AS ne,
                     (SELECT count(*) FROM kept) AS nk)
    SELECT (SELECT max(iter) FROM cur) + 1 AS iter, kk.u, kk.v
    FROM (SELECT u, v FROM kept
          UNION ALL SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)) kk
    CROSS JOIN sizes WHERE sizes.nk < sizes.ne
    )
),
truss{k} AS (
  SELECT u, v FROM {name}
  WHERE iter = (SELECT max(iter) FROM {name}) AND u IS NOT NULL
)"""


def _ktruss_summary_sql(k: int) -> str:
    return f"""
  SELECT {k} AS k,
         (SELECT count(DISTINCT node) FROM (
            SELECT u AS node FROM truss{k} UNION ALL SELECT v FROM truss{k}
          ) t) AS n_nodes,
         (SELECT count(*) FROM truss{k}) AS n_edges"""


_KTRUSS_ORACLE = f"""
WITH RECURSIVE {_COOC_EDGES_SQL},
{_ktruss_peel_cte("tpeel3", "edges", 3)},
{_ktruss_peel_cte("tpeel4", "truss3", 4)}
SELECT k, n_nodes, n_edges FROM (
{_ktruss_summary_sql(3)}
  UNION ALL
{_ktruss_summary_sql(4)}
) ORDER BY k
"""


def _edge_support(e):
    """Per-edge triangle support over an (u < v) edge set: ordered
    wedge-close enumeration (each triangle x<y<z found exactly once),
    then the three edge roles counted — all equi-joins keyed on
    node/edge keys, never all-pairs.

    Round 14: an adjacency-array form (id-ordered out-lists, per-edge
    array_intersect, one-Generate role weights — the triangle-count
    discipline) was built and measured A/B/A at sf0.1 and REVERTED:
    7.3-7.5 s (this wedge form) vs 10.8-11.1 s — the peel runs many
    strictly-shrinking rounds, and per round the collect_set array
    build plus TWO adjacency attach joins cost more than the wedge
    self-join on the hub-capped co-occurrence graph, whose wedge volume
    is only ~10x the edge count.  The array form wins when wedges blow
    up (degree-skewed graphs); this peel's input is capped upstream."""
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
        .join(
            e3,
            (F.col("y") == F.col("e3.u")) & (F.col("z") == F.col("e3.v")),
            "left_semi",
        )
    )
    roles = (
        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
        .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
    )
    return roles.groupBy("u", "v").agg(F.count(F.lit(1)).alias("s"))


def _peel_to_ktruss(edges, k: int):
    """Distributed k-truss peel: drop edges with support < k-2 until the
    edge count stops changing.  Each round is one ordered triangle
    enumeration (edge-keyed hash joins) + one left join; the input
    strictly shrinks, so the count repeats within <= |E| rounds (the
    k-core argument), on
    :func:`~pulsar_ingestion_spark.operators.iterate.fixpoint`."""
    def _peel_once(cur, _):
        return (
            cur.join(_edge_support(cur), ["u", "v"], "left")
            .filter(F.coalesce(F.col("s"), F.lit(0)) >= k - 2)
            .select("u", "v")
        )

    return fixpoint(edges.select("u", "v"), _peel_once, same_count)


@query("graph_ktruss", oracle=_KTRUSS_ORACLE)
def q_graph_ktruss(spark, sf_dir):
    """k-truss decomposition of the user co-occurrence graph: sizes of
    the 3- and 4-trusses (every surviving edge sits in >= k-2 surviving
    triangles — a strictly stronger cohesion requirement than the
    k-core's degree bound, and the standard community-core detector).
    The 4-truss peels from the 3-truss (trusses nest).  Per round the
    distributed side is the ordered wedge-close triangle join (hub-
    capped co-occurrence edges, so no cell goes quadratic) and the
    fixpoint is peel-order-free — the oracle replays the same peel as a
    WITH RECURSIVE ladder."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out: the cap
    # window's (event_type, hr) exchange follows immediately (r13)
    edges = _cooc_edges(ev).persist()
    t3 = _peel_to_ktruss(edges, 3)
    t4 = _peel_to_ktruss(t3, 4)
    rows = []
    for k, t in ((3, t3), (4, t4)):
        nodes = t.select(F.col("u").alias("node")).unionAll(
            t.select(F.col("v").alias("node"))
        )
        rows.append(
            t.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            .crossJoin(
                nodes.agg(
                    F.count_distinct(F.col("node")).cast("bigint")
                    .alias("n_nodes")
                )
            )
            .select(
                F.lit(k).cast("bigint").alias("k"), "n_nodes", "n_edges"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
