"""In-plan ML primitives over the embedding corpus: a k-means Lloyd
iteration and product-quantization encoding.

Both use the engine-portable seeded initialization the LSH/IVF family
established (`operators/similarity.py` knn_ivf_seeded): centroids are
the vectors whose md5(vec_id) sorts first — deterministic, data-derived,
recomputable by the DuckDB oracle — so the whole iteration, not just
row counts, is hash-checked.

Scale shapes:
  * Lloyd assign = broadcast k centroids × narrow per-row argmin (no
    shuffle of the corpus); recompute = posexplode then (cluster, dim)
    partial agg that collapses each map task to k×d combiner rows —
    exchanged bytes are model-sized, corpus-size-independent.  A full
    k-means is this plan iterated; one step is the checkable unit.
  * PQ encode = the same broadcast argmin run once per subspace on
    array slices; output is one code row per vector (narrow map), the
    exact plan an IVF-PQ index build runs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.vectors import dist2, dot
from pulsar_ingestion_spark.operators.ranking import best_struct
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import load_tables

_K = 8  # clusters / PQ codebook size

# left-fold squared-L2 between two DuckDB lists (identical fold order to
# Spark's F.aggregate -> identical IEEE doubles)
_D2 = """list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),
  i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
     * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (x,y) -> x+y)"""


_KMEANS_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_K}
), assigned AS (
  SELECT vec_id, vec, cid FROM (
    SELECT e.vec_id, e.embedding AS vec, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_D2.format(a='e.embedding', b='c.cvec')}, c.cid) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
), comp AS (
  SELECT a.cid, t.i - 1 AS dim, CAST(a.vec[t.i] AS DOUBLE) AS v
  FROM assigned a, unnest(range(1, len(a.vec) + 1)) AS t(i)
)
SELECT cid AS cluster_id, dim,
       count(*) AS n_members,
       round(CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6) AS centroid
FROM comp GROUP BY cid, dim
"""


@query("emb_kmeans_lloyd", oracle=_KMEANS_ORACLE)
def q_emb_kmeans_lloyd(spark, sf_dir):
    """One Lloyd iteration of k-means (k=8) over the embedding corpus:
    assign every vector to its nearest seeded centroid (broadcast argmin,
    unrounded d2 with cid tie-break — both engines fold identical
    doubles), then recompute the per-(cluster, dim) means as decimal
    partial sums.  Iterating this plan IS distributed k-means; the
    exchanged state per step is k×d rows."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    cents = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cid",
        dist2(F.col("embedding"), F.col("cvec")).alias("d2"),
    )
    # per-vector argmin over k candidates: min(struct(d2, cid)) folds
    # map-side inside the broadcast-join stage — no window, no shuffle
    # of the corpus
    assigned = scored.groupBy("vec_id").agg(
        F.min(F.struct("d2", "cid", "embedding")).alias("b")
    ).select(F.col("b.cid").alias("cid"), F.col("b.embedding").alias("vec"))
    comp = assigned.select("cid", F.posexplode("vec").alias("dim", "vf")).select(
        "cid", "dim", F.col("vf").cast("double").alias("v")
    )
    return comp.groupBy(F.col("cid").alias("cluster_id"), F.col("dim")).agg(
        F.count("*").alias("n_members"),
        F.round(
            F.sum(F.col("v").cast("decimal(18,8)")).cast("double") / F.count("*"), 6
        ).alias("centroid"),
    )


_SUBSPACES = 4
_SUBDIM = 16  # 64 dims / 4 subspaces

def _pq_cents(spark, sf_dir, emb):
    """The seeded PQ codebook (md5-ordered top-_K) as driver-held rows —
    model-sized (K × dim floats), the knn_ivf centroid stance.  One small
    limit-_K Spark job per invocation: VERDICT r13 item 4 — a module-level
    memo keyed on the dataset dir survived ``spark.catalog.clearCache()``
    and shaved this job off bench repeat-runs (the memoised-result
    pattern); every invocation now computes from the parquet input."""
    return [
        (r["cid"], r["cvec"])
        for r in (
            emb.orderBy(F.md5(F.col("vec_id").cast("string")))
            .limit(_K)
            .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
            .collect()
        )
    ]


def _pq_oracle() -> str:
    # per-subspace slice fold: d2 over dims [off+1 .. off+16]
    d2s = """list_reduce(list_prepend(0.0, list_transform(range(1, {sd} + 1),
      i -> (CAST({a}[{off} + i] AS DOUBLE) - CAST({b}[{off} + i] AS DOUBLE))
         * (CAST({a}[{off} + i] AS DOUBLE) - CAST({b}[{off} + i] AS DOUBLE)))), (x,y) -> x+y)"""
    subcodes = []
    for j in range(_SUBSPACES):
        off = j * _SUBDIM
        d2 = d2s.format(a="e.embedding", b="c.cvec", off=off, sd=_SUBDIM)
        subcodes.append(
            f"""sub{j} AS (
  SELECT vec_id, cid AS code{j}, d2 AS d2_{j} FROM (
    SELECT e.vec_id, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
)"""
        )
    joins = " ".join(f"JOIN sub{j} USING (vec_id)" for j in range(1, _SUBSPACES))
    code_concat = " || '-' || ".join(f"CAST(code{j} AS VARCHAR)" for j in range(_SUBSPACES))
    dist_sum = " + ".join(f"d2_{j}" for j in range(_SUBSPACES))
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_K}
), {", ".join(subcodes)}
SELECT vec_id, {code_concat} AS pq_code,
       round({dist_sum}, 6) AS distortion
FROM sub0 {joins}
"""


@query("emb_pq_encode", oracle=_pq_oracle())
def q_emb_pq_encode(spark, sf_dir):
    """Product-quantization encoding: split each 64-dim vector into 4
    subspaces of 16 dims, assign each slice to the nearest of 8 seeded
    codebook entries, emit the 4-part code + total distortion — the
    compressed representation an IVF-PQ ANN index stores (64 floats →
    4 small ints).  One broadcast of the codebook, one narrow pass, one
    map-side argmin agg per vector; no corpus shuffle."""
    from pulsar_ingestion_spark.operators.similarity import pq_encode_kernel

    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    cents = _pq_cents(spark, sf_dir, emb)
    enc = pq_encode_kernel(emb, cents, _SUBSPACES, _SUBDIM)
    code = F.concat_ws(
        "-",
        *[F.element_at("enc.codes", j + 1).cast("string") for j in range(_SUBSPACES)],
    )
    # Fold the subspace distortions in the SAME order the oracle does
    # (d2_0 + d2_1 + ... left-to-right): float addition is non-associative,
    # so a different fold order can differ by an ulp and flip round(…, 6)
    # at a half-way boundary (same parity class as ts_cusum_drift).
    dist = F.element_at("enc.dists", 1)
    for j in range(1, _SUBSPACES):
        dist = dist + F.element_at("enc.dists", j + 1)
    return enc.select(
        F.col("id").alias("vec_id"),
        code.alias("pq_code"),
        F.round(dist, 6).alias("distortion"),
    )


_RESIDUAL_ORACLE = """
WITH q AS (
  SELECT vec_id,
         round(127.0 / list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'), 6)
           AS scale,
         embedding
  FROM embeddings
), err AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE)
                    - CAST(floor(CAST(x AS DOUBLE) * scale) AS DOUBLE) / scale)) AS abs_err
  FROM q
)
SELECT vec_id, scale,
       round(list_aggregate(abs_err, 'max'), 6) AS max_abs_err,
       round(list_reduce(list_prepend(0.0, list_transform(abs_err, e -> e * e)),
             (a, b) -> a + b) / len(abs_err), 10) AS mse
FROM err
"""


@query("emb_residual_quantize", oracle=_RESIDUAL_ORACLE)
def q_emb_residual_quantize(spark, sf_dir):
    """Reconstruction-error audit of the int8 quantizer
    (emb_quantize_int8's exact math): per-vector max |x - dequant(x)|
    and MSE — the check that decides whether int8 storage is safe for a
    given embedding space before an index build commits to it.  Pure
    narrow array expressions (same left-fold order on both engines);
    zero shuffle."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    q = emb.select(
        "vec_id",
        F.round(
            F.lit(127.0)
            / F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))), 6
        ).alias("scale"),
        "embedding",
    )
    abs_err = F.transform(
        "embedding",
        lambda x: F.abs(
            x.cast("double")
            - F.floor(x.cast("double") * F.col("scale")).cast("double") / F.col("scale")
        ),
    )
    err = q.select("vec_id", "scale", abs_err.alias("abs_err"))
    mse = F.aggregate(
        F.transform("abs_err", lambda e: e * e), F.lit(0.0), lambda a, b: a + b
    ) / F.size("abs_err")
    return err.select(
        "vec_id",
        "scale",
        F.round(F.array_max("abs_err"), 6).alias("max_abs_err"),
        F.round(mse, 10).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Round 5b: embedding-space evaluation — matryoshka-style prefix-dimension
# recall and a per-dimension whitening/outlier audit.  These are the checks
# a pipeline runs before committing to a cheaper representation.
# ---------------------------------------------------------------------------

_PREFIX_DIMS = 32
_PREFIX_K = 5

_KNN_DOT_ML = """list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),
  i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x,y) -> x+y)"""


def _bf_cte(src: str, name: str) -> str:
    return f"""{name}_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round({_KNN_DOT_ML.format(a='q.embedding', b='c.embedding')}
           / (sqrt({_KNN_DOT_ML.format(a='q.embedding', b='q.embedding')})
            * sqrt({_KNN_DOT_ML.format(a='c.embedding', b='c.embedding')})), 6) AS cos_sim
  FROM {src} q JOIN {src} c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
),
{name} AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, cand_id) AS rnk
    FROM {name}_scored) WHERE rnk <= {_PREFIX_K}
)"""


_PREFIX_RECALL_ORACLE = f"""
WITH pre AS (
  SELECT vec_id, embedding[1:{_PREFIX_DIMS}] AS embedding FROM embeddings
),
{_bf_cte('embeddings', 'bf_full')},
{_bf_cte('pre', 'bf_pre')},
hits AS (
  SELECT f.query_id, count(*) AS c
  FROM bf_full f JOIN bf_pre p
    ON f.query_id = p.query_id AND f.cand_id = p.cand_id
  GROUP BY f.query_id
)
SELECT q.query_id,
       round(CAST(coalesce(h.c, 0) AS DOUBLE) / {_PREFIX_K}.0, 6) AS recall_at_{_PREFIX_K}
FROM (SELECT DISTINCT query_id FROM bf_full) q
LEFT JOIN hits h ON q.query_id = h.query_id
"""


@query("emb_prefix_recall", oracle=_PREFIX_RECALL_ORACLE)
def q_emb_prefix_recall(spark, sf_dir):
    """Matryoshka-style truncation eval: recall@{k} of exact cosine
    search on the FIRST {d} dimensions against exact search on the full
    vector — the measurement that decides whether a pipeline can store /
    shuffle half the bytes.  Both arms are the same broadcast-query
    brute-force operator (query side is 20 rows; candidates stream), the
    prefix arm truncates with a narrow slice() projection before any
    join, and the overlap/report joins are on two 5-row-per-query
    relations.  At 100 TB the candidate scan dominates and is one pass
    per arm.""".format(k=_PREFIX_K, d=_PREFIX_DIMS)
    from pulsar_ingestion_spark.operators.similarity import knn_bruteforce

    emb = load_tables(spark, sf_dir)["embeddings"]
    pre = emb.select("vec_id", F.slice("embedding", 1, _PREFIX_DIMS).alias("embedding"))
    q_full = emb.filter(F.col("vec_id") < 20)
    q_pre = pre.filter(F.col("vec_id") < 20)
    bf_full = knn_bruteforce(q_full, emb, k=_PREFIX_K).select("query_id", "cand_id")
    bf_pre = knn_bruteforce(q_pre, pre, k=_PREFIX_K).select("query_id", "cand_id")
    hits = bf_full.join(bf_pre, ["query_id", "cand_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        bf_full.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("c"), F.lit(0)).cast("double") / float(_PREFIX_K), 6
            ).alias(f"recall_at_{_PREFIX_K}"),
        )
    )


_WHITEN_ORACLE = """
WITH vals AS (
  SELECT CAST(i - 1 AS INTEGER) AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) r(i)
), stats AS (
  SELECT pos, count(*) AS n,
         CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) AS sx2
  FROM vals GROUP BY pos
), derived AS (
  SELECT pos, n, sx / n AS mean,
         sqrt((sx2 - sx * sx / n) / (n - 1)) AS std
  FROM stats
)
SELECT d.pos, d.n,
       round(d.mean, 6) AS mean,
       round(d.std, 6) AS std,
       CAST(SUM(CASE WHEN abs(v.v - d.mean) > 3.0 * d.std THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM vals v JOIN derived d ON v.pos = d.pos
GROUP BY d.pos, d.n, d.mean, d.std
"""


@query("emb_whiten_stats", oracle=_WHITEN_ORACLE)
def q_emb_whiten_stats(spark, sf_dir):
    """Per-dimension whitening audit: mean, sample std, and the |z| > 3
    outlier count for each of the 64 embedding dimensions — the health
    report run before standardizing a space (dead dims show std≈0,
    corrupt batches show outlier spikes).  Pass 1 is a posexplode +
    (dim)-keyed aggregation with DECIMAL-exact moment sums (order-
    independent, so mean/std are bit-identical across engines); pass 2
    re-streams the values against the broadcast 64-row stats relation to
    count outliers.  Shuffle volume is dim-keyed both times — 64 keys
    regardless of corpus size."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    vals = emb.select(
        F.posexplode("embedding").alias("pos", "v_raw")
    ).select("pos", F.col("v_raw").cast("double").alias("v"))
    dec = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    stats = vals.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("v"))).cast("double").alias("sx"),
        F.sum(dec(F.col("v") * F.col("v"))).cast("double").alias("sx2"),
    )
    derived = stats.select(
        "pos", "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.sqrt((F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("std"),
    )
    return (
        vals.join(F.broadcast(derived), "pos")
        .groupBy("pos", "n", "mean", "std")
        .agg(
            F.sum(
                F.when(F.abs(F.col("v") - F.col("mean")) > 3.0 * F.col("std"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers")
        )
        .select(
            "pos", "n",
            F.round("mean", 6).alias("mean"),
            F.round("std", 6).alias("std"),
            "n_outliers",
        )
    )


_PROTOTYPES_ORACLE = """
WITH vals AS (
  SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS pos,
         CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) r(i)
), cent AS (
  SELECT label, pos,
         round(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS c
  FROM vals GROUP BY label, pos
), dist AS (
  SELECT va.vec_id, va.label,
         round(CAST(SUM(CAST((va.v - ce.c) * (va.v - ce.c) AS DECIMAL(25,12)))
                    AS DOUBLE), 6) AS d2
  FROM vals va JOIN cent ce ON va.label = ce.label AND va.pos = ce.pos
  GROUP BY va.vec_id, va.label
)
SELECT label, rnk, vec_id, d2 FROM (
  SELECT label, vec_id, d2,
         row_number() OVER (PARTITION BY label ORDER BY d2 ASC, vec_id ASC) AS rnk
  FROM dist
) WHERE rnk <= 3
"""


@query("emb_prototypes_per_label", oracle=_PROTOTYPES_ORACLE)
def q_emb_prototypes_per_label(spark, sf_dir):
    """Prototype (coreset) selection: for every label, the 3 vectors
    closest to that label's centroid — the representative-example pick
    behind dataset distillation, few-shot exemplar choice, and outlier
    triage.  Centroids are the label_affinity-style decimal-exact
    per-dim means (rounded at 6 so both engines fold the same
    constants); distances accumulate as DECIMAL per-dim terms, so the
    squared-L2 sum is order-independent and engine-identical; the final
    pick is a label-partitioned top-k window.  Shuffles: one (label,
    dim) rollup, one (vec, label) distance agg keyed like the corpus,
    one |labels|-partition window — centroid side broadcasts."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    vals = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v_raw")
    ).select("vec_id", "label", "pos", F.col("v_raw").cast("double").alias("v"))
    cent = vals.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("c")
    )
    ce = cent.select(
        F.col("label").alias("c_label"), F.col("pos").alias("c_pos"), "c"
    )
    term = (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
    dist = (
        vals.join(
            F.broadcast(ce),
            (F.col("label") == F.col("c_label")) & (F.col("pos") == F.col("c_pos")),
        )
        .groupBy("vec_id", "label")
        .agg(F.round(F.sum(term.cast("decimal(25,12)")).cast("double"), 6).alias("d2"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    return (
        dist.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("label", "rnk", "vec_id", "d2")
    )


_COS_HIST_DOT = """list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),
  i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x,y) -> x+y)"""

_COS_HIST_ORACLE = f"""
WITH n AS (
  SELECT count(*) AS nv FROM embeddings
), pairs AS (
  SELECT a.vec_id AS ia,
         ((a.vec_id * 2654435761) % 2147483647) % (SELECT nv FROM n) AS ib
  FROM embeddings a
), joined AS (
  SELECT p.ia, p.ib,
         round({_COS_HIST_DOT.format(a="x.embedding", b="y.embedding")}
               / (sqrt({_COS_HIST_DOT.format(a="x.embedding", b="x.embedding")})
                * sqrt({_COS_HIST_DOT.format(a="y.embedding", b="y.embedding")})), 6)
           AS cos_sim
  FROM pairs p
  JOIN embeddings x ON x.vec_id = p.ia
  JOIN embeddings y ON y.vec_id = p.ib
  WHERE p.ia <> p.ib
)
SELECT least(CAST(floor((cos_sim + 1) * 10) AS BIGINT), 19) AS bin,
       round(least(CAST(floor((cos_sim + 1) * 10) AS BIGINT), 19) / 10.0 - 1.0, 1)
         AS bin_lo,
       count(*) AS n_pairs
FROM joined GROUP BY 1, 2
"""


@query("emb_cosine_histogram", oracle=_COS_HIST_ORACLE)
def q_emb_cosine_histogram(spark, sf_dir):
    """Pairwise-cosine distribution over a LINEAR deterministic pair
    sample (each vector paired with its Knuth-hash partner): 20 bins of
    width 0.1 on [-1, 1].  This is the calibration every ANN deployment
    runs first — where do same-corpus cosines concentrate, and hence
    what threshold separates near-dups from background similarity
    (feeds dedup_embedding_cosine's threshold and sim_search_lsh's band
    count).  Exactly n pairs (never n²), one equi-join on vec_id each
    side, ordered-fold dot products (array-order summation on both
    engines), histogram = sketch-sized agg."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    from pulsar_ingestion_spark.functions.vectors import cosine_rounded

    n = emb.agg(F.count("*").alias("nv"))
    pairs = emb.select("vec_id").crossJoin(F.broadcast(n)).select(
        F.col("vec_id").alias("ia"),
        (((F.col("vec_id") * 2654435761) % 2147483647) % F.col("nv")).alias("ib"),
    ).filter(F.col("ia") != F.col("ib"))
    x = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    y = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    joined = pairs.join(x, "ia").join(y, "ib").select(
        cosine_rounded(F.col("ea"), F.col("eb")).alias("cos_sim")
    )
    bin_col = F.least(
        F.floor((F.col("cos_sim") + 1) * 10).cast("bigint"), F.lit(19)
    )
    return (
        joined.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "bin",
            F.round(F.col("bin") / 10.0 - 1.0, 1).alias("bin_lo"),
            "n_pairs",
        )
    )


# ---------------------------------------------------------------------------
# Model evaluation in-plan: AUC, calibration, threshold confusion.
# "Score" = a deterministic proxy (normalized event value); "label" =
# purchase events — the evaluation SHAPES are what matter: they run
# unchanged on real model-score columns.

_AUC_ORACLE = """
WITH scored AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
), ranked AS (
  SELECT label,
         -- average rank over score ties: (min_rank + max_rank) / 2
         (CAST(min(rnk) OVER (PARTITION BY score) AS DOUBLE)
          + max(rnk) OVER (PARTITION BY score)) / 2 AS avg_rank
  FROM (SELECT score, label, row_number() OVER (ORDER BY score, label) AS rnk
        FROM scored) t
), agg AS (
  SELECT CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(SUM(CASE WHEN label = 1
                  THEN CAST(avg_rank AS DECIMAL(18,1)) ELSE 0 END) AS DOUBLE)
           AS pos_rank_sum
  FROM ranked
)
SELECT n_pos, n_neg,
       (pos_rank_sum - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
         / (CAST(n_pos AS DOUBLE) * n_neg) AS auc
FROM agg
"""


@query("ml_auc_roc", oracle=_AUC_ORACLE)
def q_ml_auc_roc(spark, sf_dir):
    """ROC AUC via the Mann-Whitney rank-sum identity: AUC =
    (Σ ranks of positives − n₊(n₊+1)/2) / (n₊·n₋), with tied scores
    taking their average rank ((min+max)/2 over the tie group) — exactly
    what sklearn computes, but as TWO window passes + one aggregate,
    never a positives×negatives pair join.  The global rank runs as a
    range-partitioned rank + per-partition offsets
    (operators/ranking.py:global_row_number) — NO unpartitioned window
    funnels the data through one task (VERDICT r5).  The rank values
    within a (score,label) tie group are an arbitrary permutation of a
    contiguous range, and the per-score min/max below depends only on
    that range, so the output is deterministic.  Rank sums accumulate
    in DECIMAL (.5 ties are exact), divisions are single IEEE ops."""
    from pyspark.sql import Window

    from pulsar_ingestion_spark.operators.ranking import global_row_number

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    scored = ev.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    wt = Window.partitionBy("score")
    ranked_rn, _total = global_row_number(
        scored, [F.col("score"), F.col("label")], rn_col="rnk"
    )
    ranked = ranked_rn.select(
        "label",
        (
            (F.min("rnk").over(wt).cast("double") + F.max("rnk").over(wt)) / 2
        ).alias("avg_rank"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).cast("bigint").alias("n_neg"),
        F.sum(
            F.when(F.col("label") == 1, F.col("avg_rank").cast("decimal(18,1)"))
            .otherwise(F.lit(0).cast("decimal(18,1)"))
        ).cast("double").alias("pos_rank_sum"),
    )
    return agg.select(
        "n_pos", "n_neg",
        (
            (F.col("pos_rank_sum") - F.col("n_pos").cast("double") * (F.col("n_pos") + 1) / 2)
            / (F.col("n_pos").cast("double") * F.col("n_neg"))
        ).alias("auc"),
    )


_CALIB_ORACLE = """
WITH scored AS (
  SELECT least(CAST(floor(value / 34) AS BIGINT), 9) AS bin,
         value / 340 AS pred,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
)
SELECT bin,
       count(*) AS n,
       CAST(SUM(CAST(pred AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS mean_pred,
       CAST(SUM(label) AS DOUBLE) / count(*) AS obs_rate
FROM scored GROUP BY bin
"""


@query("ml_calibration_bins", oracle=_CALIB_ORACLE)
def q_ml_calibration_bins(spark, sf_dir):
    """Reliability diagram: decile-binned mean predicted probability vs
    observed positive rate — the standard calibration audit before a
    score feeds a decision threshold.  One aggregate pass; bins are
    integer arithmetic; the means divide decimal-exact sums."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    scored = ev.select(
        F.least(F.floor(F.col("value") / 34), F.lit(9)).cast("bigint").alias("bin"),
        (F.col("value") / 340).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    return scored.groupBy("bin").agg(
        F.count("*").alias("n"),
        (F.sum(F.col("pred").cast("decimal(18,9)")).cast("double") / F.count("*"))
        .alias("mean_pred"),
        (F.sum("label").cast("double") / F.count("*")).alias("obs_rate"),
    )


_CONFUSION_ORACLE = """
WITH scored AS (
  SELECT CASE WHEN value > 170 THEN 1 ELSE 0 END AS pred,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
), cm AS (
  SELECT CAST(SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored
)
SELECT tp, fp, fn, tn,
       CAST(tp AS DOUBLE) / (tp + fp) AS precision_,
       CAST(tp AS DOUBLE) / (tp + fn) AS recall_,
       2 * CAST(tp AS DOUBLE) / (2 * CAST(tp AS DOUBLE) + fp + fn) AS f1
FROM cm
"""


@query("ml_confusion_threshold", oracle=_CONFUSION_ORACLE)
def q_ml_confusion_threshold(spark, sf_dir):
    """Confusion matrix + precision/recall/F1 at a fixed score threshold
    — the operating-point summary downstream of the AUC/calibration
    audits.  One aggregate pass, four conditional counts, three
    single-division metrics."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    scored = ev.select(
        F.when(F.col("value") > 170, 1).otherwise(0).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    cm = scored.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 1), 1).otherwise(0))
        .cast("bigint").alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 0), 1).otherwise(0))
        .cast("bigint").alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 1), 1).otherwise(0))
        .cast("bigint").alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 0), 1).otherwise(0))
        .cast("bigint").alias("tn"),
    )
    return cm.select(
        "tp", "fp", "fn", "tn",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias("precision_"),
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias("recall_"),
        (
            2 * F.col("tp").cast("double")
            / (2 * F.col("tp").cast("double") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster blocking (Abbas et al. 2023,
# arXiv:2303.09540 — public method).  Cluster the corpus with k-means,
# then remove, WITHIN each cluster only, every point that has a near-
# duplicate (cosine >= tau) strictly closer to the centroid (tie on id)
# — keeping the most-central representative of each semantic
# neighborhood.  The cluster id is the blocking key: pairs never cross
# clusters, and in production k grows with the corpus (k ≈ N / target
# cluster size) so per-cluster population — and the per-block pair join
# — stays bounded, the same discipline as the LSH-plane blocks of
# dedup_embedding_blas.

_SEMDEDUP_TAU = 0.4

_SEM_DOT = """list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),
  i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x,y) -> x+y)"""


def _semdedup_oracle() -> str:
    d2 = _D2.format(a="e.embedding", b="c.cvec")
    cos = f"""round({_SEM_DOT.format(a='a.vec', b='b.vec')}
      / (sqrt({_SEM_DOT.format(a='a.vec', b='a.vec')})
       * sqrt({_SEM_DOT.format(a='b.vec', b='b.vec')})), 6)"""
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_K}
), assigned AS (
  SELECT vec_id, vec, cid, d2 FROM (
    SELECT e.vec_id, e.embedding AS vec, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
), removed AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id <> b.vec_id
   AND (b.d2 < a.d2 OR (b.d2 = a.d2 AND b.vec_id < a.vec_id))
  WHERE {cos} >= {_SEMDEDUP_TAU}
)
SELECT a.cid AS cluster_id,
       count(*) AS n_members,
       count(r.vec_id) AS n_removed,
       count(*) - count(r.vec_id) AS n_kept
FROM assigned a LEFT JOIN removed r ON r.vec_id = a.vec_id
GROUP BY a.cid
"""


@query("dedup_semantic_cluster", oracle=_semdedup_oracle())
def q_dedup_semantic_cluster(spark, sf_dir):
    """SemDeDup over the embedding corpus: one k-means assignment pass
    (broadcast argmin against the k seeded centroids — the
    emb_kmeans_lloyd machinery), then a WITHIN-CLUSTER near-dup pair
    join (cosine >= tau, rounded identically on both engines) where a
    point is removed iff some neighbor is strictly closer to the
    centroid (tie on id) — so each semantic neighborhood keeps exactly
    its most-central member and survivorship is deterministic, no
    iteration.  The pair join shuffles ON the cluster id (the blocking
    key): at 100 TB, k scales with the corpus so block population stays
    bounded and the join never degenerates to all-pairs; oversized
    clusters would switch to the per-block GEMM of dedup_embedding_blas.
    Output is the per-cluster dedup scorecard."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    cents = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "embedding", "cid",
        dist2(F.col("embedding"), F.col("cvec")).alias("d2"),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid", "embedding")).alias("b"))
        .select(
            "vec_id",
            F.col("b.cid").alias("cid"),
            F.col("b.d2").alias("d2"),
            F.col("b.embedding").alias("vec"),
        )
    )

    a = assigned.alias("a")
    b = assigned.alias("b")
    cos = F.round(
        dot(F.col("a.vec"), F.col("b.vec"))
        / (F.sqrt(dot(F.col("a.vec"), F.col("a.vec")))
           * F.sqrt(dot(F.col("b.vec"), F.col("b.vec")))),
        6,
    )
    removed = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            & (
                (F.col("b.d2") < F.col("a.d2"))
                | ((F.col("b.d2") == F.col("a.d2"))
                   & (F.col("b.vec_id") < F.col("a.vec_id")))
            ),
        )
        .filter(cos >= _SEMDEDUP_TAU)
        .select(F.col("a.vec_id").alias("rm_id"))
        .distinct()
    )
    return (
        assigned.join(removed, assigned["vec_id"] == removed["rm_id"], "left")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.count("rm_id").alias("n_removed"),
            (F.count("*") - F.count("rm_id")).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC): the query side of the IVF-PQ ANN
# stack (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search" — public method).  The corpus is stored as 4-byte PQ codes
# (emb_pq_encode); a query never decodes them — it builds a tiny
# per-subspace lookup table of d2(query-slice, codeword-slice) and the
# approximate distance of ANY stored vector is 4 table lookups + 3 adds.

_ADC_K = 5
_ADC_NQUERIES = 5  # query vectors: vec_id < 5 (sim_search_knn convention)


def _adc_oracle() -> str:
    d2s = """list_reduce(list_prepend(0.0, list_transform(range(1, {sd} + 1),
      i -> (CAST({a}[{off} + i] AS DOUBLE) - CAST({b}[{off} + i] AS DOUBLE))
         * (CAST({a}[{off} + i] AS DOUBLE) - CAST({b}[{off} + i] AS DOUBLE)))), (x,y) -> x+y)"""
    subcodes = []
    luts = []
    for j in range(_SUBSPACES):
        off = j * _SUBDIM
        d2 = d2s.format(a="e.embedding", b="c.cvec", off=off, sd=_SUBDIM)
        subcodes.append(
            f"""sub{j} AS (
  SELECT vec_id, cid AS code{j} FROM (
    SELECT e.vec_id, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
)"""
        )
        qd2 = d2s.format(a="q.qvec", b="c.cvec", off=off, sd=_SUBDIM)
        luts.append(
            f"""lut{j} AS (
  SELECT q.qid, c.cid, {qd2} AS ld{j} FROM queries q CROSS JOIN cents c
)"""
        )
    code_joins = " ".join(f"JOIN sub{j} USING (vec_id)" for j in range(1, _SUBSPACES))
    lut_joins = " ".join(
        f"JOIN lut{j} l{j} ON l{j}.qid = q.qid AND l{j}.cid = s.code{j}"
        for j in range(_SUBSPACES)
    )
    adc = " + ".join(f"l{j}.ld{j}" for j in range(_SUBSPACES))
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_K}
), queries AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id < {_ADC_NQUERIES}
), {", ".join(subcodes)},
codes AS (
  SELECT vec_id, code0{"".join(f", code{j}" for j in range(1, _SUBSPACES))}
  FROM sub0 {code_joins}
), {", ".join(luts)},
scored AS (
  SELECT q.qid, s.vec_id, {adc} AS adc
  FROM codes s CROSS JOIN queries q
  {lut_joins}
  WHERE s.vec_id <> q.qid
)
SELECT qid AS query_id, vec_id AS cand_id, round(adc, 6) AS adc_dist, rank
FROM (
  SELECT qid, vec_id, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
  FROM scored
) WHERE rank <= {_ADC_K}
"""


@query("sim_search_pq_adc", oracle=_adc_oracle())
def q_sim_search_pq_adc(spark, sf_dir):
    """ADC top-k over PQ codes: encode the corpus once (the
    emb_pq_encode plan — one broadcast argmin per subspace, codes are 4
    small ints per vector), build each query's per-subspace lookup
    table (queries × codebook = model-sized, broadcast), and score
    every (query, vector) pair as ld0+ld1+ld2+ld3 — four broadcast-hash
    lookups and three adds per candidate, never touching the original
    floats.  Top-k per query is a PARTITIONED window over the
    query-id.  This is exactly the scan an IVF-PQ index runs inside
    each probed cell at 100 TB: compute stays linear in candidates with
    a ~64x smaller memory footprint than exact rescoring, and the fold
    order of the ADC sum matches the oracle term-for-term so ranks are
    bit-stable across engines."""
    from pyspark.sql import Window

    from pulsar_ingestion_spark.operators.similarity import pq_encode_kernel

    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    cents = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    # encode via the Arrow kernel (bit-identical to the relational
    # crossJoin + min(struct) argmin — see pq_encode_kernel's parity
    # contract): a narrow map instead of a full-corpus groupBy shuffle,
    # and no interpreted HOF d2 per (vector, codeword) pair
    enc = pq_encode_kernel(emb, _pq_cents(spark, sf_dir, emb), _SUBSPACES, _SUBDIM)
    codes = enc.select(
        F.col("id").alias("vec_id"),
        *[F.element_at("enc.codes", j + 1).alias(f"code{j}") for j in range(_SUBSPACES)],
    )
    queries = emb.filter(F.col("vec_id") < _ADC_NQUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # Round 13: the four per-subspace LUT relations were four separate
    # broadcast-hash joins (plus one more broadcast for the qid list) —
    # five broadcast builds and five join operators on the corpus-scale
    # side.  The LUTs are (queries × codebook)-sized, so they fold into
    # ONE broadcast row per query carrying a cid→distance MAP per
    # subspace; the scan side then does four map lookups in a single
    # projection after a single broadcast cross join.  Lookup values and
    # the left-to-right add order are unchanged, so adc is bit-identical.
    lut_cells = queries.crossJoin(F.broadcast(cents)).select(
        "qid", "cid",
        *[
            dist2(
                F.slice("qvec", j * _SUBDIM + 1, _SUBDIM),
                F.slice("cvec", j * _SUBDIM + 1, _SUBDIM),
            ).alias(f"ld{j}")
            for j in range(_SUBSPACES)
        ],
    )
    qlut = lut_cells.groupBy("qid").agg(
        *[
            F.map_from_entries(F.collect_list(F.struct("cid", f"ld{j}")))
            .alias(f"m{j}")
            for j in range(_SUBSPACES)
        ]
    )
    r = codes.crossJoin(F.broadcast(qlut))
    adc = F.col("m0")[F.col("code0")]
    for j in range(1, _SUBSPACES):
        adc = adc + F.col(f"m{j}")[F.col(f"code{j}")]
    w = Window.partitionBy("qid").orderBy("adc", "vec_id")
    return (
        r.filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", adc.alias("adc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ADC_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("cand_id"),
            F.round("adc", 6).alias("adc_dist"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Round 8: cumulative gains / lift table by score decile.

_LIFT_ORACLE = """
WITH scored AS (
  SELECT event_id,
         1.0 / (1.0 + exp(-(value - 50.0) / 25.0)) AS p,
         CASE WHEN event_id % 10 < 2 OR value > 200 THEN 1 ELSE 0 END AS y
  FROM events
), deciled AS (
  SELECT y, ntile(10) OVER (ORDER BY p DESC, event_id) AS decile FROM scored
), agg AS (
  SELECT decile, count(*) AS n, SUM(y) AS responders FROM deciled GROUP BY decile
), cum AS (
  SELECT decile, n, responders,
         SUM(n) OVER (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         SUM(responders) OVER (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r,
         SUM(n) OVER () AS tot_n, SUM(responders) OVER () AS tot_r
  FROM agg
)
SELECT decile, CAST(n AS BIGINT) AS n, CAST(responders AS BIGINT) AS responders,
       round(CAST(responders AS DOUBLE) / n, 6) AS resp_rate,
       round(CAST(cum_r AS DOUBLE) / tot_r, 6) AS cum_capture,
       round((CAST(cum_r AS DOUBLE) / cum_n)
             / (CAST(tot_r AS DOUBLE) / tot_n), 6) AS cum_lift
FROM cum
"""


@query("ml_lift_deciles", oracle=_LIFT_ORACLE)
def q_ml_lift_deciles(spark, sf_dir):
    """Cumulative gains / lift table: rank all events by a logistic
    score proxy, cut into exact global deciles, and report per-decile
    response rate, cumulative capture, and cumulative lift against the
    base rate — the model-targeting report every campaign/eval pipeline
    ships next to AUC.

    The global decile comes from the distributed exact-ranking operator
    (global_row_number + ntile_from_row_number: range repartition +
    partitioned windows + offsets — NO data-scale unpartitioned window),
    bit-equal to the ANSI ntile(10) oracle.  The only unpartitioned
    window runs over the 10-row decile aggregate (GLOBAL_WINDOW_OK
    class).  All rates divide exact integers."""
    from pulsar_ingestion_spark.operators.ranking import (
        global_row_number,
        ntile_from_row_number,
    )

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    scored = ev.select(
        "event_id",
        (1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))).alias("p"),
        F.when((F.col("event_id") % 10 < 2) | (F.col("value") > 200), 1)
        .otherwise(0).alias("y"),
    )
    ranked, n = global_row_number(scored, [F.desc("p"), F.asc("event_id")],
                                  bucket_col=F.col("p"), bucket_desc=True)
    deciled = ranked.select(
        "y", ntile_from_row_number(F.col("_rn"), n, 10).alias("decile")
    )
    agg = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("responders")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = agg.select(
        "decile", "n", "responders",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("responders").over(wc).alias("cum_r"),
        F.sum("n").over(wt).alias("tot_n"),
        F.sum("responders").over(wt).alias("tot_r"),
    )
    return cum.select(
        "decile",
        F.col("n").cast("bigint").alias("n"),
        F.col("responders").cast("bigint").alias("responders"),
        F.round(F.col("responders").cast("double") / F.col("n"), 6)
        .alias("resp_rate"),
        F.round(F.col("cum_r").cast("double") / F.col("tot_r"), 6)
        .alias("cum_capture"),
        F.round(
            (F.col("cum_r").cast("double") / F.col("cum_n"))
            / (F.col("tot_r").cast("double") / F.col("tot_n")), 6
        ).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# Round 8: MMR (maximal marginal relevance) diversity re-rank.

_MMR_LAMBDA = 0.7
_MMR_NQ = 16
_MMR_CANDS = 8

_MMR_DOT = """list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),
  i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x,y) -> x+y)"""


def _mmr_cos(a: str, b: str) -> str:
    return (f"round({_MMR_DOT.format(a=a, b=b)}"
            f" / (sqrt({_MMR_DOT.format(a=a, b=a)})"
            f" * sqrt({_MMR_DOT.format(a=b, b=b)})), 6)")


_MMR_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
         q.embedding AS qv, e.embedding AS cv,
         {_mmr_cos('q.embedding', 'e.embedding')} AS rel
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
  WHERE q.vec_id < {_MMR_NQ}
), cands AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cand_id) AS rnk
    FROM scored
  ) WHERE rnk <= {_MMR_CANDS}
), pair AS (
  SELECT a.query_id, a.cand_id AS i, b.cand_id AS j,
         {_mmr_cos('a.cv', 'b.cv')} AS sim
  FROM cands a JOIN cands b
    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
), s1 AS (
  SELECT query_id, cand_id AS sel, rel AS score FROM cands WHERE rnk = 1
), m2 AS (
  SELECT c.query_id, c.cand_id,
         round({_MMR_LAMBDA} * c.rel - {round(1 - _MMR_LAMBDA, 10)} * p.sim, 6)
           AS mmr
  FROM cands c
  JOIN s1 ON s1.query_id = c.query_id AND c.cand_id <> s1.sel
  JOIN pair p ON p.query_id = c.query_id AND p.i = c.cand_id AND p.j = s1.sel
), s2 AS (
  SELECT query_id, cand_id AS sel, mmr AS score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, cand_id) AS rn
    FROM m2
  ) WHERE rn = 1
), m3 AS (
  SELECT c.query_id, c.cand_id,
         round({_MMR_LAMBDA} * c.rel
               - {round(1 - _MMR_LAMBDA, 10)} * greatest(p1.sim, p2.sim), 6)
           AS mmr
  FROM cands c
  JOIN s1 ON s1.query_id = c.query_id AND c.cand_id <> s1.sel
  JOIN s2 ON s2.query_id = c.query_id AND c.cand_id <> s2.sel
  JOIN pair p1 ON p1.query_id = c.query_id AND p1.i = c.cand_id
              AND p1.j = s1.sel
  JOIN pair p2 ON p2.query_id = c.query_id AND p2.i = c.cand_id
              AND p2.j = s2.sel
), s3 AS (
  SELECT query_id, cand_id AS sel, mmr AS score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, cand_id) AS rn
    FROM m3
  ) WHERE rn = 1
)
SELECT query_id, 1 AS pos, sel AS vec_id, score FROM s1
UNION ALL
SELECT query_id, 2 AS pos, sel AS vec_id, score FROM s2
UNION ALL
SELECT query_id, 3 AS pos, sel AS vec_id, score FROM s3
"""


@query("sim_search_mmr", oracle=_MMR_ORACLE)
def q_sim_search_mmr(spark, sf_dir):
    """MMR diversity re-rank: for each of 16 seed queries, take the
    top-8 cosine candidates, then greedily select 3 with the maximal-
    marginal-relevance objective λ·rel − (1−λ)·max-sim-to-selected
    (λ=0.7) — the standard dedup-aware re-rank between retrieval and a
    context window.

    The greedy loop is unrolled (k=3) into joins over the per-query
    candidate set, so the whole operator is relational: one brute-force
    scoring pass (the sim_search_knn plan — at scale, any ANN variant
    substitutes), one 8×8 per-query pairwise-sim table, then model-sized
    argmax windows per step.  Cosines are rounded-to-6 before every
    ordering (registry parity rules)."""
    from pulsar_ingestion_spark.functions.vectors import cosine_rounded

    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 10)
    q = emb.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    e = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    scored = (
        F.broadcast(q).crossJoin(e)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id", "cv",
            cosine_rounded(F.col("qv"), F.col("cv")).alias("rel"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    cands = (
        scored.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= _MMR_CANDS)
        .persist()
    )
    a = cands.select("query_id", F.col("cand_id").alias("i"),
                     F.col("cv").alias("iv"))
    b = cands.select(F.col("query_id").alias("qid2"),
                     F.col("cand_id").alias("j"), F.col("cv").alias("jv"))
    pair = (
        a.join(b, (a["query_id"] == b["qid2"]) & (a["i"] != b["j"]))
        .select("query_id", "i", "j",
                cosine_rounded(F.col("iv"), F.col("jv")).alias("sim"))
        .persist()
    )
    s1 = cands.filter(F.col("rnk") == 1).select(
        "query_id", F.col("cand_id").alias("sel"), F.col("rel").alias("score")
    )
    # per-step argmax: a hash aggregate, not a row_number sort (r14)
    def argmax(m):
        return (
            m.groupBy("query_id")
            .agg(best_struct(m, [("mmr", "desc"), ("cand_id", "asc")]).alias("top"))
            .select("query_id", F.col("top.cand_id").alias("sel"),
                    F.col("top.mmr").alias("score"))
        )

    p1 = pair.select(F.col("query_id").alias("pq1"), F.col("i").alias("i1"),
                     F.col("j").alias("j1"), F.col("sim").alias("sim1"))
    p2 = pair.select(F.col("query_id").alias("pq2"), F.col("i").alias("i2"),
                     F.col("j").alias("j2"), F.col("sim").alias("sim2"))
    m2 = (
        cands.join(F.broadcast(s1.select("query_id", F.col("sel").alias("sel1"))),
                   "query_id")
        .filter(F.col("cand_id") != F.col("sel1"))
        .join(p1, (F.col("query_id") == F.col("pq1"))
              & (F.col("i1") == F.col("cand_id")) & (F.col("j1") == F.col("sel1")))
        .select("query_id", "cand_id",
                F.round(lam * F.col("rel") - mu * F.col("sim1"), 6).alias("mmr"))
    )
    s2 = argmax(m2)
    m3 = (
        cands.join(F.broadcast(s1.select("query_id", F.col("sel").alias("sel1"))),
                   "query_id")
        .join(F.broadcast(s2.select("query_id", F.col("sel").alias("sel2"))),
              "query_id")
        .filter((F.col("cand_id") != F.col("sel1"))
                & (F.col("cand_id") != F.col("sel2")))
        .join(p1, (F.col("query_id") == F.col("pq1"))
              & (F.col("i1") == F.col("cand_id")) & (F.col("j1") == F.col("sel1")))
        .join(p2, (F.col("query_id") == F.col("pq2"))
              & (F.col("i2") == F.col("cand_id")) & (F.col("j2") == F.col("sel2")))
        .select(
            "query_id", "cand_id",
            F.round(
                lam * F.col("rel") - mu * F.greatest("sim1", "sim2"), 6
            ).alias("mmr"),
        )
    )
    s3 = argmax(m3)
    out = (
        s1.select("query_id", F.lit(1).alias("pos"),
                  F.col("sel").alias("vec_id"), "score")
        .unionAll(s2.select("query_id", F.lit(2).alias("pos"),
                            F.col("sel").alias("vec_id"), "score"))
        .unionAll(s3.select("query_id", F.lit(3).alias("pos"),
                            F.col("sel").alias("vec_id"), "score"))
    )
    return out


# ---------------------------------------------------------------------------
# Round 8: triplet-margin audit in closed form (no pair enumeration).

_TRIPLET_ORACLE = """
WITH pernorm AS (
  SELECT label, vec_id,
         CAST(round(list_reduce(list_prepend(0.0,
                list_transform(range(1, len(embedding)+1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
              (x,y) -> x+y), 6) AS DECIMAL(18,6)) AS nsq
  FROM embeddings
), lab AS (
  SELECT label, count(*) AS n, SUM(nsq) AS q FROM pernorm GROUP BY label
), dims AS (
  SELECT label, dim, SUM(CAST(v AS DECIMAL(18,8))) AS sd
  FROM (
    SELECT label, unnest(range(1, len(embedding)+1)) AS dim,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
    FROM embeddings
  ) GROUP BY label, dim
), gdims AS (
  SELECT dim, SUM(sd) AS gd FROM dims GROUP BY dim
), dots AS (
  SELECT d.label,
         SUM(CAST(round(CAST(d.sd AS DOUBLE) * CAST(d.sd AS DOUBLE), 6)
                  AS DECIMAL(28,6))) AS ss,
         SUM(CAST(round(CAST(d.sd AS DOUBLE) * CAST(g.gd AS DOUBLE), 6)
                  AS DECIMAL(28,6))) AS sg
  FROM dims d JOIN gdims g ON g.dim = d.dim
  GROUP BY d.label
), tot AS (
  SELECT SUM(n) AS nn, SUM(q) AS qq FROM lab
)
SELECT l.label, CAST(l.n AS BIGINT) AS n,
       round((2 * l.n * CAST(l.q AS DOUBLE) - 2 * CAST(d.ss AS DOUBLE))
             / (l.n * (l.n - 1)), 6) AS mean_pos_d2,
       round(((t.nn - l.n) * CAST(l.q AS DOUBLE)
              + l.n * CAST(t.qq - l.q AS DOUBLE)
              - 2 * (CAST(d.sg AS DOUBLE) - CAST(d.ss AS DOUBLE)))
             / (l.n * (t.nn - l.n)), 6) AS mean_neg_d2
FROM lab l JOIN dots d ON d.label = l.label CROSS JOIN tot t
"""


@query("emb_triplet_margin", oracle=_TRIPLET_ORACLE)
def q_emb_triplet_margin(spark, sf_dir):
    """Triplet-margin audit without enumerating a single pair: for each
    label, the mean squared distance between same-label pairs and
    between cross-label pairs, from the algebraic identity
    E‖x−y‖² = ‖x‖²+‖y‖²−2x·y — everything reduces to per-label counts,
    squared-norm sums, and per-dimension component sums.  The gap
    (neg − pos) is the separation a metric-learning run would train on;
    labels where it collapses are the confusable classes.

    Scale: O(n·d) total — one per-row norm fold + one posexplode into
    per-(label, dim) DECIMAL sums (map-side combined to |labels|·d
    rows), then label-count-sized arithmetic.  The closed form is what
    makes this runnable at 10⁹ vectors where any sampled pairwise
    audit would be noise."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    pernorm = emb.select(
        "label",
        F.round(dot(F.col("embedding"), F.col("embedding")), 6)
        .cast("decimal(18,6)").alias("nsq"),
    )
    lab = pernorm.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("nsq").alias("q")
    )
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "vf")
    ).select(
        "label", (F.col("dim0") + 1).alias("dim"),
        F.col("vf").cast("double").cast("decimal(18,8)").alias("v"),
    ).groupBy("label", "dim").agg(F.sum("v").alias("sd"))
    gdims = dims.groupBy("dim").agg(F.sum("sd").alias("gd"))
    sdd = F.col("sd").cast("double")
    dots = (
        dims.join(gdims, "dim")
        .select(
            "label",
            F.round(sdd * sdd, 6).cast("decimal(28,6)").alias("ss_t"),
            F.round(sdd * F.col("gd").cast("double"), 6)
            .cast("decimal(28,6)").alias("sg_t"),
        )
        .groupBy("label")
        .agg(F.sum("ss_t").alias("ss"), F.sum("sg_t").alias("sg"))
    )
    tot = lab.agg(F.sum("n").alias("nn"), F.sum("q").alias("qq"))
    j = lab.join(dots, "label").crossJoin(F.broadcast(tot))
    n, q = F.col("n"), F.col("q").cast("double")
    ss, sg = F.col("ss").cast("double"), F.col("sg").cast("double")
    nn, qq = F.col("nn"), F.col("qq")
    return j.select(
        "label",
        n.cast("bigint").alias("n"),
        F.round((2 * n * q - 2 * ss) / (n * (n - 1)), 6).alias("mean_pos_d2"),
        F.round(
            ((nn - n) * q + n * (qq - F.col("q")).cast("double")
             - 2 * (sg - ss)) / (n * (nn - n)), 6
        ).alias("mean_neg_d2"),
    )


# ---------------------------------------------------------------------------
# Round 8: average precision (area under the PR curve, step form).

_AP_ORACLE = """
WITH scored AS (
  SELECT event_id,
         1.0 / (1.0 + exp(-(value - 50.0) / 25.0)) AS p,
         CASE WHEN event_id % 10 < 2 OR value > 200 THEN 1 ELSE 0 END AS y
  FROM events
), ranked AS (
  SELECT y, row_number() OVER (ORDER BY p DESC, event_id) AS rnk FROM scored
), cum AS (
  SELECT y, rnk,
         SUM(y) OVER (ORDER BY rnk
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_pos
  FROM ranked
), terms AS (
  SELECT CASE WHEN y = 1
              THEN CAST(round(CAST(cum_pos AS DOUBLE) / rnk, 6)
                        AS DECIMAL(18,6))
              ELSE CAST(0 AS DECIMAL(18,6)) END AS prec_at
  FROM cum
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST((SELECT SUM(y) FROM scored) AS BIGINT) AS n_pos,
       round(CAST(SUM(prec_at) AS DOUBLE)
             / (SELECT SUM(y) FROM scored), 6) AS average_precision
FROM terms
"""


@query("ml_average_precision", oracle=_AP_ORACLE)
def q_ml_average_precision(spark, sf_dir):
    """Average precision (the step-form area under the precision-recall
    curve): mean of precision@k over the ranks k where a positive sits —
    the imbalanced-data companion to ml_auc_roc, scored on the same
    logistic proxy / label convention as ml_lift_deciles.

    Global rank comes from the distributed exact-ranking operator;
    the running positive count comes from ``keyed_running_sums`` over
    the ranked relation (constant key — still range-partitioned into
    parallel runs, NO single-task window over the data).  Per-positive
    precision terms are rounded-to-6 and DECIMAL-summed."""
    from pulsar_ingestion_spark.operators.ranking import (
        global_row_number,
        keyed_running_sums,
    )

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    scored = ev.select(
        "event_id",
        (1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))).alias("p"),
        F.when((F.col("event_id") % 10 < 2) | (F.col("value") > 200), 1)
        .otherwise(0).alias("y"),
    )
    ranked, n = global_row_number(scored, [F.desc("p"), F.asc("event_id")],
                                  bucket_col=F.col("p"), bucket_desc=True)
    ranked = ranked.select("y", F.col("_rn").alias("rnk"), F.lit(1).alias("k"))
    cum, _ = keyed_running_sums(ranked, ["k"], [F.col("rnk")], ["y"])
    prec_at = F.when(
        F.col("y") == 1,
        F.round(F.col("cum_y").cast("double") / F.col("rnk"), 6)
        .cast("decimal(18,6)"),
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    npos = scored.agg(F.sum("y").cast("bigint").alias("n_pos"))
    agg = cum.select(prec_at.alias("prec_at")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("prec_at").alias("ap_sum"),
    )
    return agg.crossJoin(F.broadcast(npos)).select(
        "n", "n_pos",
        F.round(F.col("ap_sum").cast("double") / F.col("n_pos"), 6)
        .alias("average_precision"),
    )


# ---------------------------------------------------------------------------
# Round 8: Cohen's kappa between two deterministic raters.

_KAPPA_ORACLE = """
WITH rated AS (
  SELECT CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS r1,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS r2
  FROM events
), counts AS (
  SELECT count(*) AS n,
         SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS agree,
         SUM(r1) AS p1, SUM(r2) AS p2
  FROM rated
)
SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
       round(CAST(agree AS DOUBLE) / n, 6) AS po,
       round((CAST(p1 AS DOUBLE) * p2 + CAST(n - p1 AS DOUBLE) * (n - p2))
             / (CAST(n AS DOUBLE) * n), 6) AS pe,
       round((CAST(agree AS DOUBLE) / n
              - (CAST(p1 AS DOUBLE) * p2 + CAST(n - p1 AS DOUBLE) * (n - p2))
                / (CAST(n AS DOUBLE) * n))
             / (1 - (CAST(p1 AS DOUBLE) * p2
                     + CAST(n - p1 AS DOUBLE) * (n - p2))
                    / (CAST(n AS DOUBLE) * n)), 6) AS kappa
FROM counts
"""


@query("ml_cohen_kappa", oracle=_KAPPA_ORACLE)
def q_ml_cohen_kappa(spark, sf_dir):
    """Cohen's kappa for inter-rater agreement between two deterministic
    binary raters (event-id parity vs a value threshold) — the
    label-quality check run on double-annotated corpus samples before
    trusting a labeling pipeline.  One map-side-combined aggregate;
    kappa is a single IEEE expression over five exact integers."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    rated = ev.select(
        F.when(F.col("event_id") % 2 == 1, 1).otherwise(0).alias("r1"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("r2"),
    )
    c = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("r1") == F.col("r2"), 1).otherwise(0)).alias("agree"),
        F.sum("r1").alias("p1"), F.sum("r2").alias("p2"),
    )
    n, agree = F.col("n"), F.col("agree")
    p1, p2 = F.col("p1"), F.col("p2")
    po = agree.cast("double") / n
    pe = (p1.cast("double") * p2 + (n - p1).cast("double") * (n - p2)) / (
        n.cast("double") * n
    )
    return c.select(
        n.cast("bigint").alias("n"),
        agree.cast("bigint").alias("n_agree"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Round 8: mutual information between a binned feature and the label.

_MI_BINS = 10

_MI_ORACLE = f"""
WITH binned AS (
  SELECT CAST(least(floor(value / 50.0), {_MI_BINS - 1}) AS INTEGER) AS bin,
         CASE WHEN event_id % 10 < 2 OR value > 200 THEN 1 ELSE 0 END AS y
  FROM events
), cells AS (
  SELECT bin, y, count(*) AS c FROM binned GROUP BY bin, y
), margins AS (
  SELECT c.bin, c.y, c.c,
         SUM(c.c) OVER (PARTITION BY c.bin) AS cb,
         SUM(c.c) OVER (PARTITION BY c.y) AS cy,
         SUM(c.c) OVER () AS n
  FROM cells c
), terms AS (
  SELECT CAST(round(
           (CAST(c AS DOUBLE) / n)
           * log2((CAST(c AS DOUBLE) * n) / (CAST(cb AS DOUBLE) * cy)), 8)
           AS DECIMAL(18,8)) AS term,
         n
  FROM margins
)
SELECT CAST(max(n) AS BIGINT) AS n,
       round(CAST(SUM(term) AS DOUBLE), 6) AS mutual_info_bits
FROM terms
"""


@query("ml_mutual_info", oracle=_MI_ORACLE)
def q_ml_mutual_info(spark, sf_dir):
    """Mutual information (bits) between the decile-binned value
    feature and the campaign label — the model-free feature-relevance
    screen that complements drift_chi2's independence test (MI is the
    G-test statistic / 2n·ln2).  The stream collapses to a
    bins×2 contingency table (map-side combined); margins and the
    plogp terms are model-sized, rounded-to-8 and DECIMAL-summed."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    binned = ev.select(
        F.least(F.floor(F.col("value") / 50.0), F.lit(_MI_BINS - 1))
        .cast("int").alias("bin"),
        F.when((F.col("event_id") % 10 < 2) | (F.col("value") > 200), 1)
        .otherwise(0).alias("y"),
    )
    cells = binned.groupBy("bin", "y").agg(F.count(F.lit(1)).alias("c"))
    wb = Window.partitionBy("bin")
    wy = Window.partitionBy("y")
    wall = Window.partitionBy()
    m = cells.select(
        "c",
        F.sum("c").over(wb).alias("cb"),
        F.sum("c").over(wy).alias("cy"),
        F.sum("c").over(wall).alias("n"),
    )
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * F.log2(
            (F.col("c").cast("double") * F.col("n"))
            / (F.col("cb").cast("double") * F.col("cy"))
        ), 8
    ).cast("decimal(18,8)")
    return m.select(term.alias("term"), "n").agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(F.sum("term").cast("double"), 6).alias("mutual_info_bits"),
    )


# ---------------------------------------------------------------------------
# Round 8: best-F1 operating point over the full threshold sweep.

_BEST_F1_ORACLE = """
WITH scored AS (
  SELECT event_id,
         1.0 / (1.0 + exp(-(value - 50.0) / 25.0)) AS p,
         CASE WHEN event_id % 10 < 2 OR value > 200 THEN 1 ELSE 0 END AS y
  FROM events
), ranked AS (
  SELECT p, y, row_number() OVER (ORDER BY p DESC, event_id) AS k FROM scored
), cum AS (
  SELECT p, k,
         SUM(y) OVER (ORDER BY k
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_pos,
         (SELECT SUM(y) FROM scored) AS pos_total
  FROM ranked
), f1s AS (
  SELECT k, p, cum_pos, pos_total,
         round(2.0 * cum_pos / (k + pos_total), 6) AS f1
  FROM cum
)
SELECT CAST(k AS BIGINT) AS best_k,
       round(p, 6) AS threshold,
       round(CAST(cum_pos AS DOUBLE) / k, 6) AS precision_at,
       round(CAST(cum_pos AS DOUBLE) / pos_total, 6) AS recall_at,
       f1 AS best_f1
FROM f1s
ORDER BY f1 DESC, k
LIMIT 1
"""


@query("ml_best_f1_threshold", oracle=_BEST_F1_ORACLE)
def q_ml_best_f1_threshold(spark, sf_dir):
    """Best-F1 operating point: sweep EVERY score cut simultaneously —
    at rank k, F1 = 2·cum_pos/(k + P) from the running positive count —
    and return the argmax (the threshold-selection step after
    ml_auc_roc says the model ranks well and before
    ml_confusion_threshold audits the chosen cut).

    Global rank via the distributed exact-ranking operator; running
    positives via constant-key ``keyed_running_sums``; the argmax is
    ONE map-side-combining ``best_struct`` aggregate —
    measured 2.9× at the 10× point as orderBy().limit(1), 1.1× as the
    struct-max (SCALE.md 6h)."""
    from pulsar_ingestion_spark.operators.ranking import (
        global_row_number,
        keyed_running_sums,
    )

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    scored = ev.select(
        "event_id",
        (1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))).alias("p"),
        F.when((F.col("event_id") % 10 < 2) | (F.col("value") > 200), 1)
        .otherwise(0).alias("y"),
    )
    ranked, n = global_row_number(scored, [F.desc("p"), F.asc("event_id")],
                                  bucket_col=F.col("p"), bucket_desc=True)
    ranked = ranked.select("p", "y", F.col("_rn").alias("k"), F.lit(1).alias("kk"))
    cum, _ = keyed_running_sums(ranked, ["kk"], [F.col("k")], ["y"])
    ptot = scored.agg(F.sum("y").alias("pos_total"))
    f1s = cum.crossJoin(F.broadcast(ptot)).select(
        "k", "p", F.col("cum_y").alias("cum_pos"), "pos_total",
        F.round(
            2.0 * F.col("cum_y") / (F.col("k") + F.col("pos_total")), 6
        ).alias("f1"),
    )
    best = f1s.agg(
        best_struct(
            f1s, [("f1", "desc"), ("k", "asc")], ["p", "cum_pos", "pos_total"]
        ).alias("b")
    )
    b = F.col("b")
    return best.select(
        b.getField("k").cast("bigint").alias("best_k"),
        F.round(b.getField("p"), 6).alias("threshold"),
        F.round(
            b.getField("cum_pos").cast("double") / b.getField("k"), 6
        ).alias("precision_at"),
        F.round(
            b.getField("cum_pos").cast("double") / b.getField("pos_total"), 6
        ).alias("recall_at"),
        b.getField("f1").alias("best_f1"),
    )


# ---------------------------------------------------------------------------
# Round 11: expected calibration error (ECE + MCE) over the reliability bins

_ECE_ORACLE = """
WITH scored AS (
  SELECT least(CAST(floor(value / 34) AS BIGINT), 9) AS bin,
         value / 340 AS pred,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
), b AS (
  SELECT bin, count(*) AS n,
         CAST(SUM(CAST(pred AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS conf,
         CAST(SUM(label) AS DOUBLE) / count(*) AS acc
  FROM scored GROUP BY bin
), g AS (
  SELECT n, CAST(round(abs(acc - conf), 6) AS DECIMAL(18,6)) AS gap6 FROM b
)
SELECT CAST(SUM(n) AS BIGINT) AS n_total,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(SUM(gap6 * n) AS DOUBLE) / SUM(n) AS ece,
       CAST(max(gap6) AS DOUBLE) AS mce
FROM g
"""


@query("ml_expected_calibration_error", oracle=_ECE_ORACLE)
def q_ml_expected_calibration_error(spark, sf_dir):
    """Expected + maximum calibration error over the SAME decile bins as
    ml_calibration_bins (identical score proxy and label — the one-number
    rollup of that reliability diagram): ECE = Σ n_b/N·|acc_b−conf_b|,
    MCE = max_b.  Per-bin confidences divide DECIMAL(18,9)-exact sums;
    per-bin gaps are rounded-to-6 then DECIMAL-weighted by the exact bin
    counts, so the ≤10-term final sum has no float order at all.  One
    aggregate pass + a 10-row rollup."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    scored = ev.select(
        F.least(F.floor(F.col("value") / 34), F.lit(9)).cast("bigint").alias("bin"),
        (F.col("value") / 340).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    b = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("pred").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)))
        .alias("conf"),
        (F.sum("label").cast("double") / F.count(F.lit(1))).alias("acc"),
    )
    gap6 = F.round(F.abs(F.col("acc") - F.col("conf")), 6).cast("decimal(18,6)")
    g = b.select("n", gap6.alias("gap6"))
    return g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        (F.sum(F.col("gap6") * F.col("n")).cast("double") / F.sum("n")).alias("ece"),
        F.max("gap6").cast("double").alias("mce"),
    )


# ---------------------------------------------------------------------------
# Round 11: class-conditional KS separation (model-discrimination audit)

_KSSEP_ORACLE = """
WITH tagged AS (
  SELECT event_type, value,
         CAST(event_id % 2 AS INTEGER) AS y
  FROM events
), pervalue AS (
  SELECT event_type, value,
         SUM(y) AS cp, SUM(1 - y) AS cn
  FROM tagged GROUP BY event_type, value
), cum AS (
  SELECT event_type, value,
         SUM(cp) OVER w AS cum_p, SUM(cn) OVER w AS cum_n,
         SUM(cp) OVER wt AS np, SUM(cn) OVER wt AS nn
  FROM pervalue
  WINDOW w AS (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY event_type)
)
SELECT event_type, CAST(max(np) AS BIGINT) AS n_pos, CAST(max(nn) AS BIGINT) AS n_neg,
       round(max(abs(CAST(cum_p AS DOUBLE) / np - CAST(cum_n AS DOUBLE) / nn)), 6)
         AS ks_sep
FROM cum GROUP BY event_type
"""


@query("ml_ks_separation", oracle=_KSSEP_ORACLE)
def q_ml_ks_separation(spark, sf_dir):
    """Class-conditional Kolmogorov-Smirnov separation per event type:
    D = max |F̂_pos − F̂_neg| between the score (value) distributions of
    the two label classes (y = event_id % 2 — the ml_log_loss
    conventions).  The credit-scoring "KS statistic": the
    threshold-free discrimination summary that complements ml_auc_roc
    (AUC averages the separation; KS reports its PEAK and the score
    where it occurs matters operationally).  Same plan as drift_ks with
    the window tag swapped for the class label: per-(type, value)
    conditional counts, range-partitioned running sums
    (ranking.keyed_running_sums — parallelism is NOT capped at the
    type count), single-division CDF gaps of exact integers."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    tagged = ev.select(
        "event_type", "value", (F.col("event_id") % 2).cast("int").alias("y")
    )
    pervalue = tagged.groupBy("event_type", "value").agg(
        F.sum("y").alias("cp"), F.sum(1 - F.col("y")).alias("cn")
    )
    cum, totals = keyed_running_sums(
        pervalue, ["event_type"], [F.col("value")], ["cp", "cn"]
    )
    cum = cum.join(F.broadcast(totals), "event_type")
    gap = F.abs(
        F.col("cum_cp").cast("double") / F.col("total_cp")
        - F.col("cum_cn").cast("double") / F.col("total_cn")
    )
    return cum.groupBy("event_type").agg(
        F.max("total_cp").cast("bigint").alias("n_pos"),
        F.max("total_cn").cast("bigint").alias("n_neg"),
        F.round(F.max(gap), 6).alias("ks_sep"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 4: regression-model evaluation metrics — the ml_*
# family was classification/ranking-only; this adds the regression
# scorecard (RMSE / MAE / R^2 / MAPE / mean bias) every model-quality
# dashboard pairs with the classification metrics.

_REGEVAL_ORACLE = """
WITH scored AS (
  SELECT l_linestatus,
         -- width 19: DuckDB multiplies int64-backed DECIMAL(18) in int64
         -- and overflows on y*y; 19 forces hugeint (see _CORR_ORACLE)
         CAST(l_extendedprice AS DECIMAL(19,4)) AS y,
         CAST(950 AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))
           + CAST(500 AS DECIMAL(19,4)) AS yhat
  FROM lineitem
), r AS (
  SELECT l_linestatus, y, CAST(y - yhat AS DECIMAL(19,4)) AS res,
         CAST(round(abs(CAST(y - yhat AS DOUBLE)) / CAST(y AS DOUBLE), 10)
              AS DECIMAL(18,10)) AS ape
  FROM scored
), m AS (
  SELECT l_linestatus, count(*) AS n,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(CAST(SUM(y * y) AS DECIMAL(38,4)) AS DOUBLE) AS syy,
         CAST(SUM(res) AS DOUBLE) AS sr,
         CAST(CAST(SUM(res * res) AS DECIMAL(38,4)) AS DOUBLE) AS srr,
         CAST(SUM(abs(res)) AS DOUBLE) AS sar,
         CAST(SUM(ape) AS DOUBLE) AS sape
  FROM r GROUP BY l_linestatus
)
SELECT l_linestatus, n,
       round(sqrt(srr / n), 4) AS rmse,
       round(sar / n, 4) AS mae,
       round(1 - srr / (syy - sy * sy / n), 6) AS r2,
       round(sape / n, 6) AS mape,
       round(sr / n, 4) AS mean_bias
FROM m
"""


@query("ml_regression_metrics", oracle=_REGEVAL_ORACLE)
def q_ml_regression_metrics(spark, sf_dir):
    """Regression scorecard for a fixed linear model (price ~ 950*qty +
    500; coefficients pinned so both engines score the identical model)
    against actual extended price, per linestatus.  Residuals and their
    squares are exact DECIMAL; the per-row percentage error is one IEEE
    division rounded to 10 dp and decimal-summed (order-independent) —
    the whole scorecard is ONE map-side-combined aggregate pass, the
    canonical shape for scoring a 100-TB prediction table: no shuffle of
    rows, only of per-group moment tuples."""
    li = load_tables(spark, sf_dir)["lineitem"]  # no fan_out (r13)
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    yhat = (
        F.lit(950).cast("decimal(18,4)") * F.col("l_quantity").cast("decimal(18,4)")
        + F.lit(500).cast("decimal(18,4)")
    )
    scored = li.select("l_linestatus", y.alias("y"), yhat.alias("yhat"))
    res = F.col("y") - F.col("yhat")
    r = scored.select(
        "l_linestatus",
        F.col("y"),
        res.alias("res"),
        F.round(F.abs(res.cast("double")) / F.col("y").cast("double"), 10)
        .cast("decimal(18,10)")
        .alias("ape"),
    )
    yc, rc = F.col("y"), F.col("res")
    m = r.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(yc).cast("double").alias("sy"),
        F.sum(yc * yc).cast("decimal(38,4)").cast("double").alias("syy"),
        F.sum(rc).cast("double").alias("sr"),
        F.sum(rc * rc).cast("decimal(38,4)").cast("double").alias("srr"),
        F.sum(F.abs(rc)).cast("double").alias("sar"),
        F.sum("ape").cast("double").alias("sape"),
    )
    n = F.col("n")
    return m.select(
        "l_linestatus",
        "n",
        F.round(F.sqrt(F.col("srr") / n), 4).alias("rmse"),
        F.round(F.col("sar") / n, 4).alias("mae"),
        F.round(1 - F.col("srr") / (F.col("syy") - F.col("sy") * F.col("sy") / n), 6).alias("r2"),
        F.round(F.col("sape") / n, 6).alias("mape"),
        F.round(F.col("sr") / n, 4).alias("mean_bias"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 5: Murphy decomposition of the Brier score — the
# component view (reliability / resolution / uncertainty) of the
# calibration audit ml_calibration_bins + ml_expected_calibration_error
# summarize (Murphy 1973).

_BRIER_ORACLE = """
WITH scored AS (
  SELECT least(CAST(floor(value / 34) AS BIGINT), 9) AS bin,
         value / 340 AS pred,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
), b AS (
  SELECT bin, count(*) AS n,
         CAST(SUM(label) AS BIGINT) AS s,
         SUM(CAST(pred AS DECIMAL(18,9))) AS p,
         CAST(SUM(CAST(round((pred - label) * (pred - label), 9)
                       AS DECIMAL(18,9))) AS DOUBLE) AS sq
  FROM scored GROUP BY bin
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total, CAST(SUM(s) AS BIGINT) AS s_total,
         CAST(SUM(CAST(sq AS DECIMAL(28,9))) AS DOUBLE) AS sq_total
  FROM b
), parts AS (
  SELECT t.n_total, t.s_total, t.sq_total,
         CAST(SUM(CAST(round(CAST(b.p - b.s AS DOUBLE) * CAST(b.p - b.s AS DOUBLE) / b.n, 9)
                       AS DECIMAL(18,9))) AS DOUBLE) AS rel_num,
         CAST(SUM(CAST(round((CAST(b.s AS DOUBLE) / b.n - CAST(t.s_total AS DOUBLE) / t.n_total)
                             * (CAST(b.s AS DOUBLE) / b.n - CAST(t.s_total AS DOUBLE) / t.n_total)
                             * b.n, 9)
                       AS DECIMAL(18,9))) AS DOUBLE) AS res_num
  FROM b, tot t
  GROUP BY t.n_total, t.s_total, t.sq_total
)
SELECT n_total, sq_total / n_total AS brier,
       rel_num / n_total AS reliability,
       res_num / n_total AS resolution,
       (CAST(s_total AS DOUBLE) / n_total)
         * (1 - CAST(s_total AS DOUBLE) / n_total) AS uncertainty
FROM parts
"""


@query("ml_brier_decomposition", oracle=_BRIER_ORACLE)
def q_ml_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score over the SAME decile bins
    / score proxy / label as ml_calibration_bins: reliability =
    sum n_b (conf_b - acc_b)^2 / N (calibration gap), resolution =
    sum n_b (acc_b - base)^2 / N (discrimination), uncertainty =
    base(1-base); brier itself is the mean squared error of the raw
    (unbinned) score, so brier = rel - res + unc holds only up to the
    within-bin score variance — the report shows all four so the gap is
    visible.  Parity: every per-bin term is derived from EXACT sums
    (integer n/s, decimal p), combined in identical IEEE double
    expressions — n_b(conf-acc)^2 algebraically = (p_b - s_b)^2/n_b, so
    the subtraction happens while still decimal-exact — rounded to 9 dp
    and decimal-summed over the <= 10 bins (order-free).  One aggregate
    pass + a bin-sized rollup; the totals join is a 1-row broadcast."""
    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    scored = ev.select(
        F.least(F.floor(F.col("value") / 34), F.lit(9)).cast("bigint").alias("bin"),
        (F.col("value") / 340).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )
    sq9 = F.round((F.col("pred") - F.col("label")) * (F.col("pred") - F.col("label")), 9)
    b = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").cast("bigint").alias("s"),
        F.sum(F.col("pred").cast("decimal(18,9)")).alias("p"),
        F.sum(sq9.cast("decimal(18,9)")).cast("double").alias("sq"),
    )
    tot = b.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("s").cast("bigint").alias("s_total"),
        F.sum(F.col("sq").cast("decimal(28,9)")).cast("double").alias("sq_total"),
    )
    j = b.crossJoin(F.broadcast(tot))
    ps = (F.col("p") - F.col("s")).cast("double")
    acc = F.col("s").cast("double") / F.col("n")
    base = F.col("s_total").cast("double") / F.col("n_total")
    parts = j.groupBy("n_total", "s_total", "sq_total").agg(
        F.sum(F.round(ps * ps / F.col("n"), 9).cast("decimal(18,9)"))
        .cast("double").alias("rel_num"),
        F.sum(F.round((acc - base) * (acc - base) * F.col("n"), 9).cast("decimal(18,9)"))
        .cast("double").alias("res_num"),
    )
    ubase = F.col("s_total").cast("double") / F.col("n_total")
    return parts.select(
        "n_total",
        (F.col("sq_total") / F.col("n_total")).alias("brier"),
        (F.col("rel_num") / F.col("n_total")).alias("reliability"),
        (F.col("res_num") / F.col("n_total")).alias("resolution"),
        (ubase * (1 - ubase)).alias("uncertainty"),
    )


_CONFORMAL_ALPHA = 0.1

_CONFORMAL_ORACLE = f"""
WITH base AS (
  SELECT event_id, CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS x,
         value AS y
  FROM events
), cal AS (SELECT * FROM base WHERE event_id % 2 = 0),
test AS (SELECT * FROM base WHERE event_id % 2 = 1),
m AS (
  SELECT count(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(x * CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sxy
  FROM cal
), fit AS (
  SELECT n,
         (n * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
         (sy - (n * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n AS a
  FROM m
), resid AS (
  SELECT round(abs(y - f.a - f.b * x), 6) AS r
  FROM cal CROSS JOIN fit f
), pv AS (
  SELECT r, count(*) AS c FROM resid GROUP BY r
), cum AS (
  SELECT r, SUM(c) OVER (ORDER BY r
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM pv
), q AS (
  SELECT min(r) AS qhat FROM cum
  WHERE cc >= CEIL((1 - {_CONFORMAL_ALPHA}) * ((SELECT n FROM fit) + 1))
), cov AS (
  SELECT count(*) AS n_test,
         SUM(CASE WHEN round(abs(y - f.a - f.b * x), 6) <= q.qhat
                  THEN 1 ELSE 0 END) AS covered
  FROM test CROSS JOIN fit f CROSS JOIN q
)
SELECT CAST((SELECT n FROM fit) AS BIGINT) AS n_cal,
       CAST(n_test AS BIGINT) AS n_test,
       round((SELECT qhat FROM q), 6) AS interval_halfwidth,
       round(CAST(covered AS DOUBLE) / n_test, 6) AS test_coverage
FROM cov
"""


@query("ml_conformal_interval", oracle=_CONFORMAL_ORACLE)
def q_ml_conformal_interval(spark, sf_dir):
    """Split-conformal prediction interval (Vovk; Lei et al. 2018) for
    value ~ hour-of-day: fit OLS on the calibration half (event_id
    parity split), take the ceil((1-alpha)(n+1))-th smallest absolute
    calibration residual as the interval half-width (the
    finite-sample-valid conformal quantile), and report empirical
    coverage on the held-out half — distribution-free ~90% coverage by
    construction.  Exact-DECIMAL OLS moments (a, b identical doubles),
    6 dp-rounded residuals collapsed to distinct values + running
    counts for the EXACT order statistic, coverage as an integer count.
    Two scan passes + one distinct-residual running count."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    ev = load_tables(spark, sf_dir)["events"]  # no fan_out (r13)
    base = ev.select(
        "event_id",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("x"),
        F.col("value").alias("y"),
    )
    cal = base.filter(F.col("event_id") % 2 == 0)
    test = base.filter(F.col("event_id") % 2 == 1)
    yd = F.col("y").cast("decimal(18,4)")
    m = cal.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(F.col("x") * yd).cast("double").alias("sxy"),
    )
    n, sx = F.col("n"), F.col("sx")
    b = (n * F.col("sxy") - sx * F.col("sy")) / (
        n.cast("double") * F.col("sxx") - sx.cast("double") * sx
    )
    fit = m.select("n", b.alias("b"), ((F.col("sy") - b * sx) / n).alias("a"))
    r = F.round(F.abs(F.col("y") - F.col("a") - F.col("b") * F.col("x")), 6)
    resid = cal.crossJoin(F.broadcast(fit)).select(r.alias("r"))
    pv = resid.groupBy("r").agg(F.count(F.lit(1)).alias("c"))
    # Global running count via keyed_running_sums (empty key): the
    # distinct-residual relation is data-scale (6-dp rounding does not
    # bound it), so an unpartitioned Window.orderBy would funnel it
    # through one task (plan-hygiene gate).
    cum, _ = keyed_running_sums(pv, [], [F.col("r")], ["c"])
    target = F.ceil((1 - _CONFORMAL_ALPHA) * (F.col("n") + 1))
    q = (
        cum.crossJoin(F.broadcast(fit.select("n")))
        .filter(F.col("cum_c") >= target)
        .agg(F.min("r").alias("qhat"))
    )
    cov = (
        test.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(r <= F.col("qhat"), 1).otherwise(0)).alias("covered"),
        )
    )
    return (
        cov.crossJoin(F.broadcast(fit.select("n")))
        .crossJoin(F.broadcast(q))
        .select(
            F.col("n").cast("bigint").alias("n_cal"),
            F.col("n_test").cast("bigint").alias("n_test"),
            F.round(F.col("qhat"), 6).alias("interval_halfwidth"),
            F.round(
                F.col("covered").cast("double") / F.col("n_test"), 6
            ).alias("test_coverage"),
        )
    )
