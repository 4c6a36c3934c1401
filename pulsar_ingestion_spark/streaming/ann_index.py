"""Incremental (streaming) ANN index maintenance: sign-LSH buckets over
an embedding stream, kept in a versioned table (VERDICT r9 item 7 — the
``dedup_cascade.py`` state pattern applied to ``sim_search_lsh``).

The batch query (queries_llm.q_sim_search_lsh / operators.similarity.
knn_lsh) buckets the WHOLE corpus per run; in operation embeddings
arrive continuously and each micro-batch should extend the index
without rebucketing history.  The state is exactly the candidate side
of the batch join, persisted: one row per indexed vector carrying
``(vec_id, embedding, bucket)``, where ``bucket`` comes from the same
deterministic md5-hyperplane kernel (``signlsh_buckets``) the batch
path uses.  A micro-batch therefore does ONE narrow kernel pass and one
exactly-once append; a search does the same bucket equi-join + exact
cosine rerank as ``knn_lsh``, against the indexed-so-far state.

Semantics / batch equivalence: after any sequence of micro-batches,
``ann_search(queries)`` returns EXACTLY ``knn_lsh(queries, indexed)``
where ``indexed`` is the union of the batches — regardless of how the
stream was cut (tests/test_streaming_ann_index.py proves row equality
against the batch operator for 1/2/5-batch cuts and a real
maxFilesPerTrigger stream).  This holds by construction: buckets are a
pure function of (embedding, planes, seed), and the search reuses the
batch join/rerank expressions term for term.

The plane count is PINNED per index (stored buckets bake it in) — the
streaming trade against the batch path's ``auto_num_planes``: growing a
live index past ``target_block << planes`` vectors means oversized
buckets until a re-index job rebuckets under more planes (a one-pass
kernel over the state table; the versioned table's commit makes the
swap atomic).

Exactly-once: the versioned table's app-id-scoped batch watermark makes
the append idempotent under Structured Streaming's at-least-once replay
(same mechanism as the cascade — a replayed batch no-ops before any
state read).

Scale notes (100 TB): the per-batch work is a narrow Arrow kernel pass
(no shuffle) + an append; a search shuffles only the model-sized query
side (the state side would be bucketed storage at cluster scale, making
the equi-join exchange-free).  State grows with the corpus the pipeline
is indexing anyway; vacuum() bounds manifest history.

Reference basis: the reference pipeline maintains per-tenant consumer
state at ingest (docs/architecture.md:113-118); this composes the
SURVEY §2 similarity family into that streaming shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.similarity import signlsh_buckets
from pulsar_ingestion_spark.operators.versioned import VersionedTable


def _empty_search_result(spark: SparkSession, queries: DataFrame, id_col: str) -> DataFrame:
    """The shared empty-index search result: the (query_id, cand_id,
    cos_sim, rank) contract of ann_search/ivf_search (the rerank tail's
    output schema) with zero rows — one definition so the empty and
    non-empty schemas can't drift apart."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    idt = queries.schema[id_col].dataType
    return spark.createDataFrame([], StructType([
        StructField("query_id", idt),
        StructField("cand_id", idt),
        StructField("cos_sim", DoubleType()),
        StructField("rank", IntegerType()),
    ]))


def stream_ann_index(
    state_root: str,
    app_id: str,
    dim: int,
    num_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch target: bucket the batch's embeddings with the
    index's pinned hyperplanes and append them to the versioned state
    exactly once.  Usage::

        q = (emb_stream.writeStream
               .foreachBatch(stream_ann_index(root, app_id=ckpt, dim=64))
               .option("checkpointLocation", ckpt).start())

    Query the index with :func:`ann_search`.
    """
    table = VersionedTable(state_root)
    commit = table.stream_batch_committer(app_id)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if table._batch_already_committed(batch_id, app_id):
            return  # replayed batch — index already advanced
        b = signlsh_buckets(
            batch_df.select(id_col, vec_col), dim, num_planes,
            id_col, vec_col, seed,
        )
        commit(
            b.select(
                F.col("id").alias(id_col),
                F.col("vec").alias(vec_col),
                "bucket",
            ),
            batch_id,
        )

    return process


def ann_search(
    spark: SparkSession,
    state_root: str,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ANN against the indexed-so-far state — the exact
    expressions of :func:`operators.similarity.knn_lsh` with the
    candidate side read from the index instead of rebucketed, so the
    result equals the batch operator over the same vectors at any
    stream cut.  ``num_planes``/``seed`` must match the index's.

    A search racing the FIRST micro-batch (no committed version yet)
    returns zero rows with the normal result schema rather than raising
    (ADVICE r10) — an empty index simply has no candidates."""
    try:
        state = VersionedTable(state_root).read(spark)
    except FileNotFoundError:
        return _empty_search_result(spark, queries, id_col)
    qb = signlsh_buckets(queries, dim, num_planes, id_col, vec_col, seed)
    from pulsar_ingestion_spark.functions.vectors import cosine_rounded

    scored = (
        qb.alias("q")
        .join(
            state.alias("c"),
            (F.col("q.bucket") == F.col("c.bucket"))
            & (F.col("q.id") != F.col(f"c.{id_col}")),
        )
        .withColumn("cos_sim", cosine_rounded(F.col("q.vec"), F.col(f"c.{vec_col}"), 6))
    )
    w = Window.partitionBy(F.col("q.id")).orderBy(
        F.desc("cos_sim"), F.asc(F.col(f"c.{id_col}"))
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q.id").alias("query_id"),
            F.col(f"c.{id_col}").alias("cand_id"),
            "cos_sim",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# IVF family (VERDICT r10 item 7): the same incremental-maintenance story
# for the second ANN family.  Where sign-LSH pins (num_planes, seed), an
# IVF index pins its CENTROID LIST — cell assignment must be a pure
# function of (embedding, centroids), so the centroids are fixed at index
# creation (derived offline: the seeded-md5 rule of knn_ivf_seeded, or a
# k-means run over a bootstrap corpus) and persisted as a sidecar next to
# the versioned state, making every later micro-batch and search
# self-describing.  State rows: (vec_id, embedding, cell) — exactly the
# candidate side of knn_ivf_pinned's rerank join.

def _ivf_centroid_file(state_root: str) -> str:
    import os

    return os.path.join(state_root, "ivf_centroids.json")


def _write_ivf_centroids(state_root: str, cents) -> None:
    """Persist the pinned centroid list; idempotent — an existing
    IDENTICAL sidecar is left alone, a DIFFERENT one raises (changing
    centroids silently would orphan every stored cell assignment).

    The create is ATOMIC (write-temp + hard-link-into-place, which fails
    EEXIST instead of clobbering; O_EXCL direct-write fallback for
    filesystems without hard links) so two concurrent FIRST-TIME index
    creations with different centroid lists cannot both pass an
    exists-check and silently last-write-win — exactly one creator
    succeeds and the loser falls into the compare-or-raise path
    (round-11 review finding #2)."""
    import errno as _errno
    import json
    import os
    import uuid as _uuid

    os.makedirs(state_root, exist_ok=True)
    payload = [[int(c), [float(x) for x in v]] for c, v in cents]
    path = _ivf_centroid_file(state_root)

    def _check_existing() -> None:
        existing = _read_ivf_centroids(state_root)
        if existing != [(int(c), [float(x) for x in v]) for c, v in cents]:
            raise ValueError(
                f"IVF index at {state_root} is pinned to a different centroid "
                "list; re-index into a fresh root instead of mutating centroids"
            )

    if os.path.exists(path):
        _check_existing()
        return
    tmp = os.path.join(state_root, f".ivfc-{_uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    try:
        os.link(tmp, path)
    except FileExistsError:
        _check_existing()
    except OSError as exc:
        if exc.errno == _errno.EEXIST:  # raised as plain OSError on some fs
            _check_existing()
        else:
            # no hard links here (NFS/object-store mount): O_EXCL
            # direct-write keeps the create atomic-or-fail
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                _check_existing()
            else:
                with os.fdopen(fd, "w") as fh:
                    json.dump(payload, fh)
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def _read_ivf_centroids(state_root: str) -> list[tuple[int, list[float]]]:
    import json

    with open(_ivf_centroid_file(state_root)) as fh:
        return [(int(c), [float(x) for x in v]) for c, v in json.load(fh)]


def stream_ivf_index(
    state_root: str,
    app_id: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch target: assign the batch's embeddings to their pinned
    IVF cells (Arrow argmin kernel — identical assignment to the batch
    operator by construction) and append exactly once.  Usage::

        q = (emb_stream.writeStream
               .foreachBatch(stream_ivf_index(root, app_id=ckpt, centroids=cents))
               .option("checkpointLocation", ckpt).start())

    Query with :func:`ivf_search`."""
    from pulsar_ingestion_spark.operators.similarity import ivf_assign_cells

    _write_ivf_centroids(state_root, centroids)
    table = VersionedTable(state_root)
    commit = table.stream_batch_committer(app_id)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if table._batch_already_committed(batch_id, app_id):
            return  # replayed batch — index already advanced
        assigned = ivf_assign_cells(
            batch_df.select(id_col, vec_col), centroids, id_col, vec_col
        )
        commit(
            assigned.select(
                F.col("id").alias(id_col),
                F.col("vec").alias(vec_col),
                "cell",
            ),
            batch_id,
        )

    return process


def ivf_search(
    spark: SparkSession,
    state_root: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k IVF ANN against the indexed-so-far state: probe the nprobe
    nearest PINNED cells (read from the index's sidecar) and rerank
    exactly — term-for-term the expressions of
    :func:`operators.similarity.knn_ivf_pinned`, so the result equals
    the batch operator over the union of the indexed batches at any
    stream cut.  No committed version yet → zero rows, normal schema
    (same contract as :func:`ann_search`)."""
    from pulsar_ingestion_spark.operators.similarity import (
        ivf_probe_cells,
        ivf_rerank,
    )

    try:
        state = VersionedTable(state_root).read(spark)
    except FileNotFoundError:
        return _empty_search_result(spark, queries, id_col)
    # committed state WITHOUT its centroid sidecar is corruption, not an
    # empty index — let the read raise (round-11 review finding #1: the
    # shared catch masked a lost sidecar as "0 matches")
    try:
        cents = _read_ivf_centroids(state_root)
    except FileNotFoundError as exc:
        raise FileNotFoundError(
            f"IVF index at {state_root} has committed state but no "
            "ivf_centroids.json sidecar — the index is corrupt (sidecar "
            "pruned or state copied without it); re-index into a fresh root"
        ) from exc
    assigned = state.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "cell"
    )
    probes = ivf_probe_cells(queries, cents, nprobe, id_col, vec_col)
    return ivf_rerank(probes, assigned, k)
