"""Similarity search over embedding columns (array<float>).

Every search has the same two steps: key the candidates and probe them,
then verify exactly.

  * brute force (:func:`knn_bruteforce`) — the exact reference: a
    broadcast of the query set against a full scan of candidates
    (narrow, no shuffle of the candidate side);
  * sign-LSH (:func:`knn_lsh`, :func:`knn_lsh_multiprobe`) — the key is
    the random-hyperplane signature (:func:`signlsh_buckets`): at 100 TB
    the candidate scan drops by the bucket fan-out factor, trading
    recall for cost;
  * IVF (:func:`knn_ivf_seeded`, :func:`knn_ivf_pinned`) — the key is
    the nearest pinned centroid (:func:`ivf_assign_cells`); a query
    probes its ``nprobe`` nearest cells (:func:`ivf_probe_cells`);
  * PQ (:func:`pq_encode_kernel`) — per-subspace nearest codebook entry;
    with one full-dim subspace it is the IVF coarse quantizer.

Probes ``(qid, qv, key)`` join candidates ``(id, vec, key)`` on the key;
:func:`rerank_score` drops self-pairs and scores the exact cosine, and
:func:`top_k` keeps the best ``k`` per query.  The streaming indexes
(streaming/ann_index.py) store the candidate side and search it through
the same functions, so an index search equals the batch operator by
construction.  Hyperplanes and centroids come from seeded md5, not RNG,
so every result is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.vectors import cosine_rounded_kernel, dist2, dot, norm


def top_k(scored: DataFrame, k: int, *lead: str) -> DataFrame:
    """The ``k`` best candidates per ``(*lead, query_id)`` of a scored
    ``(query_id, cand_id, cos_sim)`` relation, by ``cos_sim`` desc then
    ``cand_id`` asc (a deterministic output set):
    ``(*lead, query_id, cand_id, cos_sim, rank)``."""
    w = Window.partitionBy(*lead, "query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*lead, "query_id", "cand_id", "cos_sim", "rank")
    )


def rerank_score(probes: DataFrame, cands: DataFrame, key: str) -> DataFrame:
    """Exact-cosine verify of probed candidates: probes ``(qid, qv, key,
    ...)`` ⋈ candidates ``(id, vec, key)`` on ``key``, self-pairs dropped
    → ``(query_id, cand_id, cos_sim, ...)``, the probes' other columns
    carried.  A candidate carries one key and a query's probe keys are
    distinct, so no pair meets twice.  Cosine via the pair-dot Arrow
    kernel, bit-identical to the HOF fold: the rerank volume is queries ×
    probed-key occupancy (~750k pairs at the 100× point), where the
    three HOF dot folds per pair dominated the wall."""
    return (
        probes.join(cands, key)
        .filter(F.col("qid") != F.col("id"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("cand_id"),
            cosine_rounded_kernel(F.col("qv"), F.col("vec"), 6).alias("cos_sim"),
            *[c for c in probes.columns if c not in ("qid", "qv", key)],
        )
    )


def knn_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side should be small → broadcast; candidates stream through.
    This is the reference the ANN searches are compared against, so it
    scores with its own fold expressions and shares only :func:`top_k`.
    """
    # Norms precomputed per side → one dot per (query, candidate) pair.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = candidates.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .withColumn("cos_sim", F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6))
    )
    return top_k(scored, k)


def _hyperplane(dim: int, plane_idx: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a hash chain —
    reproducible across runs/engines without RNG state."""
    import hashlib
    import struct

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"{seed}:{plane_idx}:{j}".encode()).digest()
        (u,) = struct.unpack(">q", h[:8])
        vals.append((u / float(1 << 63)))
    return vals


def auto_num_planes(n_rows: int, target_block: int = 4096, lo: int = 4, hi: int = 20) -> int:
    """Pick the sign-LSH plane count so the EXPECTED bucket holds about
    ``target_block`` vectors: ``2^planes ≈ n / target_block``.

    The two costs both scale with bucket size: the intra-block matmul is
    block²·dim flops and the Arrow group transfer is block·dim·8 bytes —
    4096×1024 doubles ≈ 32 MB/block, well inside an executor task.  Fewer
    planes → bigger blocks but HIGHER recall (a pair at cosine s collides
    with probability p^planes, p = 1 - acos(s)/π), so the tuner picks the
    smallest plane count whose blocks still fit: recall is maximized
    subject to the memory/compute envelope.  Clamped to [lo, hi]; at
    n = 10^10 (100 TB of 1 KB docs) this lands at ~21 planes → 2M buckets,
    which a 1000-executor cluster hash-partitions evenly.
    """
    import math

    if n_rows <= target_block:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_block))))


def signlsh_buckets_multi(
    df: DataFrame,
    dim: int,
    num_planes: int,
    seeds: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane signatures for one hash table per seed, in ONE
    Arrow pass: ``(id, vec, buckets array<long>)``, where a table's
    bucket is the bit-string of sign(v·h_i).  Cosine-similar vectors
    collide with high probability.  Multi-table callers ``posexplode``
    to ``(tbl, bucket)``; :func:`signlsh_buckets` is the one-table form.

    Each plane's dot product is accumulated column-by-column in float64
    (``acc += V[:, j] * w[j]``) — the SAME IEEE add sequence as the
    ordered ``F.aggregate`` fold and the DuckDB oracle's ``list_reduce``,
    so buckets are bit-identical across all three forms (pinned by
    ``test_signlsh_kernel_matches_hof_fold``).  The two expression forms
    were measured and rejected at the 100× scale point (SCALE.md §6n):
    the HOF fold dispatches ~2·dim interpreted lambdas per row, and an
    unrolled codegen tree (dim·planes·4 nodes per side) moves the cost
    into seconds of per-run analysis/codegen.  A NULL or wrong-dim
    embedding gets a NULL bucket in every table (bucket equi-joins drop
    it — such a row has no candidates) instead of np.vstack aborting the
    whole batch."""
    from pyspark.sql.functions import pandas_udf

    all_planes = [
        [
            np.array(_hyperplane(dim, i, s), dtype=np.float64)
            for i in range(num_planes)
        ]
        for s in seeds
    ]
    ntab = len(seeds)

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        n = len(v)
        if n == 0:
            return pd.Series([], dtype="object")
        vs = v.to_numpy()
        valid = np.fromiter(
            (e is not None and len(e) == dim for e in vs), dtype=bool, count=n
        )
        out = [[None] * ntab] * n
        if valid.any():
            mat = np.vstack(vs[valid]).astype(np.float64)
            codes = np.zeros((len(mat), ntab), dtype=np.int64)
            for t, planes in enumerate(all_planes):
                for p, w in enumerate(planes):
                    acc = np.zeros(len(mat), dtype=np.float64)
                    for j in range(dim):
                        acc += mat[:, j] * w[j]
                    codes[:, t] |= (acc > 0).astype(np.int64) << p
            it = iter(codes.tolist())
            out = [next(it) if ok else [None] * ntab for ok in valid]
        return pd.Series(out, dtype="object")

    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _buckets(F.col(vec_col)).alias("buckets"),
    )


def signlsh_buckets(
    df: DataFrame,
    dim: int,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """One-table sign-LSH signature: ``(id, vec, bucket)`` — the
    :func:`signlsh_buckets_multi` kernel with the one ``seed``."""
    b = signlsh_buckets_multi(df, dim, num_planes, [seed], id_col, vec_col)
    return b.select("id", "vec", F.col("buckets")[0].alias("bucket"))


def pq_encode_kernel(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    subspaces: int,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode as one vectorized Arrow pass: per
    subspace, the nearest codebook entry by L2 — returns
    ``(id, vec, enc struct<codes: array<bigint>, dists: array<double>>)``
    (vec carried through for rerank-style consumers; Catalyst prunes it
    where unused).  With ``subspaces=1, subdim=dim`` this is plain
    nearest-centroid assignment (the IVF coarse quantizer).

    ``cents`` is the codebook as driver-held rows (model-sized: K × dim
    floats — the same stance as the IVF centroids).  Replaces the
    relational encode (corpus ×K crossJoin + per-subspace HOF d2 +
    ``min(struct(d2, cid))`` groupBy): that plan shuffles the full
    corpus on vec_id, while this one is a narrow map — the right encode
    shape at 100 TB — and drops the interpreted-lambda d2 evaluation
    (SCALE.md §6n mechanism).

    Parity contract (pinned by ``test_pq_encode_kernel_matches_relational``):
    each subspace distance accumulates column-by-column in float64 —
    ``acc += (V[:, t] - c[t])²`` in element order, the same IEEE sequence
    as the ordered ``F.aggregate`` fold and the oracle's ``list_reduce``
    — and the codebook is scanned in ascending cid with strict-less
    updates, reproducing ``min(struct(d2, cid))``'s smallest-cid
    tie-break exactly."""
    from pyspark.sql.functions import pandas_udf

    cents_sorted = sorted(
        ((int(cid), np.asarray(cv, dtype=np.float64)) for cid, cv in cents),
        key=lambda x: x[0],
    )

    @pandas_udf("codes array<bigint>, dists array<double>")
    def _enc(v: pd.Series) -> pd.DataFrame:
        n_in = len(v)
        if n_in == 0:
            return pd.DataFrame({"codes": [], "dists": []})
        vs = v.to_numpy()
        need = subspaces * subdim
        # NULL/short-vector guard (ADVICE r9): NULL enc struct per bad
        # row instead of np.vstack aborting the whole batch.
        valid = np.fromiter(
            (e is not None and len(e) >= need for e in vs), dtype=bool, count=n_in
        )
        if not valid.any():
            return pd.DataFrame(
                {"codes": [None] * n_in, "dists": [None] * n_in}, dtype=object
            )
        # slice each valid vector to the encoded prefix: the kernel only
        # reads dims [0, need), and valid rows may carry DIFFERENT
        # lengths >= need — unsliced, np.vstack would abort the batch
        mat = np.vstack([np.asarray(e)[:need] for e in vs[valid]]).astype(np.float64)
        n = len(mat)
        codes = np.empty((n, subspaces), dtype=np.int64)
        dists = np.empty((n, subspaces), dtype=np.float64)
        for j in range(subspaces):
            off = j * subdim
            best_d = None
            best_c = None
            for cid, cv in cents_sorted:
                acc = np.zeros(n, dtype=np.float64)
                for t in range(subdim):
                    d = mat[:, off + t] - cv[off + t]
                    acc = acc + d * d
                if best_d is None:
                    best_d, best_c = acc, np.full(n, cid, dtype=np.int64)
                else:
                    upd = acc < best_d
                    best_d = np.where(upd, acc, best_d)
                    best_c = np.where(upd, cid, best_c)
            codes[:, j] = best_c
            dists[:, j] = best_d
        if valid.all():
            return pd.DataFrame({"codes": list(codes), "dists": list(dists)})
        out_codes: list = [None] * n_in
        out_dists: list = [None] * n_in
        for row, i in enumerate(np.nonzero(valid)[0]):
            out_codes[i] = codes[row]
            out_dists[i] = dists[row]
        return pd.DataFrame({"codes": out_codes, "dists": out_dists})

    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _enc(F.col(vec_col)).alias("enc"),
    )


def knn_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: exact rerank within the query's LSH bucket.

    The bucket equi-join replaces the cross join — this is the 100 TB plan
    (candidates partitioned by bucket; each query probes one partition).
    Recall < 1.0 by design; verify against knn_bruteforce on samples.
    ``num_planes=None`` → :func:`auto_num_planes` from the candidate count
    (one count() job against the scan, then sized buckets).
    """
    if num_planes is None:
        num_planes = auto_num_planes(candidates.count())
    probes = signlsh_buckets(queries, dim, num_planes, id_col, vec_col).toDF("qid", "qv", "bucket")
    cands = signlsh_buckets(candidates, dim, num_planes, id_col, vec_col)
    return top_k(rerank_score(probes, cands, "bucket"), k)


def knn_lsh_multiprobe(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multiprobe sign-LSH ANN: each query probes its own bucket PLUS the
    ``num_planes`` buckets at Hamming distance 1 (one plane bit flipped) —
    the standard recall boost that costs probe-count, not extra hash
    tables (no duplicate signatures/storage like multi-table LSH).

    Scale shape: the candidate side is bucketed ONCE; the query side
    explodes ×(num_planes+1) (queries are the small side), then the same
    bucket equi-join and rerank as :func:`knn_lsh`.
    """
    qb = signlsh_buckets(queries, dim, num_planes, id_col, vec_col, seed)
    cands = signlsh_buckets(candidates, dim, num_planes, id_col, vec_col, seed)
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(num_planes)],
    )
    probes = qb.select(
        F.col("id").alias("qid"),
        F.col("vec").alias("qv"),
        F.explode(probe_buckets).alias("bucket"),
    )
    return top_k(rerank_score(probes, cands, "bucket"), k)


def seeded_centroids(
    candidates: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The engine-portable IVF coarse quantizer (VERDICT r2 item 2): the
    ``n_cells`` candidate vectors whose ``md5(cast(id as string))`` sorts
    lowest — a deterministic uniform subsample any engine reproduces;
    cell id = the centroid's own id.  One model-sized collect."""
    rows = (
        candidates.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec"))
        .orderBy(F.md5(F.col("cell").cast("string")))
        .limit(n_cells)
        .collect()
    )
    return [(int(r["cell"]), [float(x) for x in r["cvec"]]) for r in rows]


def check_centroids(cents) -> list[tuple[int, list[float]]]:
    """A pinned centroid list as ``[(cell, [float])]``, or ValueError
    unless it is non-empty, of one dimension and has distinct cell ids:
    an empty list leaves nothing to assign to, and a ragged centroid is
    scored differently by the assignment kernel and the probe."""
    out = [(int(c), [float(x) for x in v]) for c, v in cents]
    if not out:
        raise ValueError("IVF needs at least one centroid")
    dims = {len(v) for _, v in out}
    if len(dims) != 1 or 0 in dims:
        raise ValueError(f"IVF centroids must share one non-zero dimension, got {sorted(dims)}")
    if len({c for c, _ in out}) != len(out):
        raise ValueError("IVF centroid cell ids must be distinct")
    return out


def ivf_assign_cells(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector its nearest PINNED cell: ``(id, vec, cell)``.

    Assignment via the Arrow argmin kernel (1 subspace × full dim) —
    bit-identical to array_min over the (d2, cell) structs (same ordered
    fold per d2, same smallest-cell tie-break) but without
    ~2·dim·n_cells interpreted lambda dispatches per row, which
    dominated the 100× point (22.2 s; SCALE.md §6n cont.).  Shared by
    the batch IVF (:func:`knn_ivf_pinned`) and the streaming index
    maintainer (streaming/ann_index.stream_ivf_index) so both bucket
    identically by construction."""
    dim = len(cents[0][1])
    enc = pq_encode_kernel(df, list(cents), 1, dim, id_col=id_col, vec_col=vec_col)
    return enc.select("id", "vec", F.element_at("enc.codes", 1).alias("cell"))


def ivf_probe_cells(
    queries: DataFrame,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ``nprobe`` nearest pinned cells with their probe rank:
    ``(qid, qv, cell, probe_rank)`` (1 = nearest centroid) — a NARROW
    column expression over the literal centroid table (no shuffle, no
    window).  The rank lets one probing pass serve every smaller budget
    (``probe_rank <= nprobe``, the recall-vs-nprobe sweep)."""

    def cell_structs(vec):
        return F.array(*[
            F.struct(
                dist2(vec, F.array(*[F.lit(float(x)) for x in cvec])).alias("d2"),
                F.lit(cell).cast("long").alias("cell"),
            )
            for cell, cvec in cents
        ])

    return (
        queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.slice(F.array_sort(cell_structs(F.col(vec_col))), 1, nprobe).alias("pc"),
        )
        .select("qid", "qv", F.posexplode(F.col("pc")["cell"]).alias("pos", "cell"))
        .select("qid", "qv", "cell", (F.col("pos") + 1).alias("probe_rank"))
    )


def knn_ivf_pinned(
    queries: DataFrame,
    candidates: DataFrame,
    cents: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN under an EXPLICIT pinned centroid list: assign candidates
    to their nearest cell, probe each query's ``nprobe`` nearest cells,
    rerank exactly.  The batch-equivalence reference for the streaming
    index (streaming/ann_index.ivf_search).  The candidate side lives
    partitioned by cell; each query touches nprobe/n_cells of the data."""
    cents = check_centroids(cents)
    probes = ivf_probe_cells(queries, cents, nprobe, id_col, vec_col)
    cands = ivf_assign_cells(candidates, cents, id_col, vec_col)
    return top_k(rerank_score(probes, cands, "cell"), k)


def knn_ivf_seeded(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over the :func:`seeded_centroids` quantizer: the centroid
    table is a tiny model (n_cells × dim) collected once and
    re-broadcast as literals, so cell assignment and query probing are
    NARROW (no shuffle, no window); only the probe-cell rerank join
    shuffles.  Distances/cosines are ordered folds → bit-exact vs a
    DuckDB oracle."""
    cents = seeded_centroids(candidates, n_cells, id_col, vec_col)
    return knn_ivf_pinned(
        queries, candidates, cents, k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    )
