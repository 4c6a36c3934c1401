"""Incremental (streaming) ANN indexes: sign-LSH buckets or pinned IVF
cells over an embedding stream, kept in a versioned table (VERDICT r9
item 7 — the ``dedup_cascade.py`` state pattern applied to the
similarity searches).

The batch searches (operators/similarity.py) key the WHOLE corpus per
run; in operation embeddings arrive continuously and each micro-batch
should extend the index without re-keying history.  The state is the
candidate side of the batch join, persisted: ``(vec_id, embedding,
key)``, the key being the sign-LSH ``bucket`` or the IVF ``cell``.  A
micro-batch does ONE narrow kernel pass and one exactly-once append.

Batch equivalence: after any sequence of micro-batches,
``ann_search(queries)`` returns EXACTLY ``knn_lsh(queries, indexed)``
and ``ivf_search`` EXACTLY ``knn_ivf_pinned(queries, indexed, cents)``,
``indexed`` being the union of the batches, however the stream was cut
(tests/test_streaming_ann_index.py and test_streaming_ivf_index.py).
This holds by construction: keys are a pure function of (embedding,
pinned planes or centroids), and a search calls the batch operator's
key, probe, ``rerank_score`` and ``top_k`` functions; only the
candidate side is read instead of recomputed.

The plane count is PINNED per index (stored buckets bake it in) — the
streaming trade against the batch path's ``auto_num_planes``: growing a
live index past ``target_block << planes`` vectors means oversized
buckets until a re-index job rebuckets under more planes (a one-pass
kernel over the state table; the versioned table's commit makes the
swap atomic).

Exactly-once: the versioned table's app-id-scoped batch watermark makes
the append idempotent under Structured Streaming's at-least-once replay
(same mechanism as the cascade — a replayed batch no-ops before any
data is written).

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.similarity import (
    check_centroids,
    ivf_assign_cells,
    ivf_probe_cells,
    rerank_score,
    signlsh_buckets,
    top_k,
)
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


def _index_writer(state_root: str, app_id: str, assign, id_col: str, vec_col: str):
    """The foreachBatch target of both index families: ``assign`` keys
    the batch's ``(id_col, vec_col)`` rows as ``(id, vec, key)``, and the
    rows are appended to the versioned state exactly once under their
    original column names (a replayed batch id writes nothing)."""
    commit = VersionedTable(state_root).stream_batch_committer(app_id)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = assign(batch_df.select(id_col, vec_col))
        commit(rows.withColumnsRenamed({"id": id_col, "vec": vec_col}), batch_id)

    return process


def _read_state(spark: SparkSession, state_root: str, id_col: str, vec_col: str, key: str):
    """The indexed-so-far candidate side ``(id, vec, key)``, or None
    while no micro-batch has committed."""
    try:
        state = VersionedTable(state_root).read(spark)
    except FileNotFoundError:
        return None
    return state.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), key)


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
    return _index_writer(
        state_root, app_id,
        lambda b: signlsh_buckets(b, dim, num_planes, id_col, vec_col, seed),
        id_col, vec_col,
    )


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
    """Top-k ANN against the indexed-so-far state — the probes and
    rerank of :func:`operators.similarity.knn_lsh` with the candidate
    side read from the index instead of rebucketed, so the result equals
    the batch operator over the same vectors at any stream cut.
    ``num_planes``/``seed`` must match the index's.

    A search racing the FIRST micro-batch (no committed version yet)
    returns zero rows with the normal result schema rather than raising
    (ADVICE r10) — an empty index simply has no candidates."""
    cands = _read_state(spark, state_root, id_col, vec_col, "bucket")
    if cands is None:
        return _empty_search_result(spark, queries, id_col)
    probes = signlsh_buckets(queries, dim, num_planes, id_col, vec_col, seed).toDF(
        "qid", "qv", "bucket"
    )
    return top_k(rerank_score(probes, cands, "bucket"), k)


# ---------------------------------------------------------------------------
# IVF family (VERDICT r10 item 7): where sign-LSH pins (num_planes, seed),
# an IVF index pins its CENTROID LIST — cell assignment must be a pure
# function of (embedding, centroids), so the centroids are fixed at index
# creation (derived offline: similarity.seeded_centroids, or a k-means
# run over a bootstrap corpus) and persisted as a sidecar next to the
# versioned state, making every later micro-batch and search
# self-describing.  State rows: (vec_id, embedding, cell).

def _ivf_centroid_file(state_root: str) -> str:
    import os

    return os.path.join(state_root, "ivf_centroids.json")


def _write_ivf_centroids(state_root: str, cents) -> None:
    """Persist the pinned centroid list; idempotent — an existing
    IDENTICAL sidecar is left alone, a DIFFERENT one raises (changing
    centroids silently would orphan every stored cell assignment).  A
    list :func:`check_centroids` rejects raises before any sidecar
    exists, so the root stays usable.

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

    cents = check_centroids(cents)
    os.makedirs(state_root, exist_ok=True)
    path = _ivf_centroid_file(state_root)

    def _check_existing() -> None:
        if _read_ivf_centroids(state_root) != cents:
            raise ValueError(
                f"IVF index at {state_root} is pinned to a different centroid "
                "list; re-index into a fresh root instead of mutating centroids"
            )

    if os.path.exists(path):
        _check_existing()
        return
    tmp = os.path.join(state_root, f".ivfc-{_uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(cents, fh)
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
                    json.dump(cents, fh)
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
    IVF cells (the batch operator's Arrow argmin kernel) and append
    exactly once.  The centroid list is checked and pinned first, so a
    list no batch could use raises here.  Usage::

        q = (emb_stream.writeStream
               .foreachBatch(stream_ivf_index(root, app_id=ckpt, centroids=cents))
               .option("checkpointLocation", ckpt).start())

    Query with :func:`ivf_search`."""
    _write_ivf_centroids(state_root, centroids)
    return _index_writer(
        state_root, app_id,
        lambda b: ivf_assign_cells(b, centroids, id_col, vec_col),
        id_col, vec_col,
    )


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
    exactly — the probes and rerank of
    :func:`operators.similarity.knn_ivf_pinned`, so the result equals
    the batch operator over the union of the indexed batches at any
    stream cut.  No committed version yet → zero rows, normal schema
    (same contract as :func:`ann_search`)."""
    cands = _read_state(spark, state_root, id_col, vec_col, "cell")
    if cands is None:
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
    probes = ivf_probe_cells(queries, cents, nprobe, id_col, vec_col)
    return top_k(rerank_score(probes, cands, "cell"), k)
