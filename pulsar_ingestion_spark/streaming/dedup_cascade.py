"""Incremental (streaming) dedup cascade: exact → MinHash-banded LSH
over a corpus that ARRIVES in micro-batches, with the dedup state kept
in a versioned table (VERDICT r6 item 4).

The batch cascade (queries_llm.q_text_dedup_cascade) sees the whole
corpus at once; in operation documents arrive continuously and each
micro-batch must be deduplicated against EVERYTHING ACCEPTED BEFORE IT
without re-deduplicating history.  The state that makes that possible
is exactly the cascade's two working sets, persisted:

  * the digest set (exact stage) — md5(text) of every exact survivor;
  * the LSH index (near stage)  — the 4 band values + the shingle set
    of every exact survivor (band values find candidates, shingles
    verify Jaccard).

Both live as COLUMNS of one versioned-table row per exact survivor.  A
micro-batch runs one aggregation and one probe join, then one
exactly-once append (state advance):

  * ``groupBy(digest)`` over the exploded shingles keeps the min-id doc
    of each digest (in-batch exact stage) and computes its 8 md5
    minhashes (operators.dedup.md5_minhashes) in the same pass;
  * each survivor's 5 keys (digest as band 0, then its 4 bands) probe
    one index of in-batch keys plus every state key; one ``groupBy``
    per survivor over the hits flags a state digest hit (exact) and a
    Jaccard-verified band hit on a doc seen before (near).

The versioned table's app-id-scoped batch watermark makes the append
idempotent under Structured Streaming's at-least-once replay: a
replayed batch no-ops BEFORE any state read, so the cascade's decisions
are never recomputed against a state the batch itself already advanced.

Semantics / batch equivalence: a new doc is dropped iff it exact- or
near-matches some exact survivor SEEN STRICTLY BEFORE it (earlier batch,
or same batch with smaller doc id).  Near-match partners are exact
survivors whether or not they were themselves accepted — the same rule
as the batch cascade's ``id_a < id_b over exact survivors`` — so when
documents arrive in ascending doc-id order the accepted set equals the
batch cascade's keep set EXACTLY, regardless of how the stream is cut
into batches (tests/test_streaming_dedup_cascade.py proves set equality
against q_text_dedup_cascade's funnel).

Scale notes (100 TB): each batch reads the whole state ONCE, as the
index side of the (band, bval) probe join, so the steady per-batch cost
grows with the state.  State grows with EXACT SURVIVORS (it is the dedup
output plus tombstoned near-dups carrying their index entries), i.e.
with the corpus the pipeline is keeping anyway.  At cluster scale the
state's probe keys would be kept bucketed by (band, bval) so the
per-batch join is exchange-free on the state side; vacuum() bounds manifest history.

Reference basis: the reference pipeline dedups per-tenant streams at
ingest (docs/architecture.md:113-118 consumer model); this composes the
SURVEY §2 LLM dedup family into that streaming shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.text import shingles
from pulsar_ingestion_spark.operators.dedup import md5_minhashes
from pulsar_ingestion_spark.operators.versioned import VersionedTable

_THRESHOLD = 0.35
_N_BANDS = 4
_BANDS = [f"b{b}" for b in range(_N_BANDS)]


def _keys(df: DataFrame) -> DataFrame:
    """One probe key per (doc, band): band 0 is the digest, bands 1..4
    the LSH band values."""
    return df.select(
        "*", F.posexplode(F.array("digest", *_BANDS)).alias("band", "bval")
    )


def _probe(table: VersionedTable, surv: DataFrame, threshold: float) -> DataFrame:
    """The batch's state rows: one probe join of every survivor's 5 keys
    against the index of in-batch keys plus every state key.  A state
    digest hit is an exact dup (the row is dropped); a band hit on a doc
    seen strictly before (state, or same batch with smaller id) at
    Jaccard >= threshold is a near dup (``accepted`` false).  An in-batch
    doc that a state digest removes stays in the index, but it has that
    state doc's text, so the same bands and shingles: it matches a doc
    exactly when the state doc does."""
    index = surv.withColumn("old", F.lit(False))
    try:
        state = table.read(surv.sparkSession, schema=surv.schema)  # the state's own columns
        index = index.unionByName(state.withColumn("old", F.lit(True)))
    except FileNotFoundError:
        pass
    index = _keys(index).select(
        F.col("doc_id").alias("y_id"), F.col("w").alias("yw"), "old", "band", "bval")
    x = _keys(surv).select(F.struct(*surv.columns).alias("x"), "band", "bval")
    inter = F.size(F.array_intersect("x.w", "yw"))
    jac = F.round(inter / (F.size("x.w") + F.size("yw") - inter), 6)
    seen_before = F.col("old") | (F.col("y_id") < F.col("x.doc_id"))
    return (
        x.join(index, ["band", "bval"], "left")
        .groupBy("x")
        .agg(F.max(F.col("old") & (F.col("band") == 0)).alias("exact"),
             F.max(F.when(seen_before, jac >= threshold)).alias("near"))
        .filter(~F.coalesce("exact", F.lit(False)))
        .select("x.*", (~F.coalesce("near", F.lit(False))).alias("accepted"))
    )


def stream_dedup_cascade(
    state_root: str,
    app_id: str,
    threshold: float = _THRESHOLD,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch target: incremental exact → MinHash-banded dedup.

    Appends one state row per EXACT SURVIVOR of each batch with an
    ``accepted`` flag (false = near-dup of an earlier survivor; the row
    still carries its LSH index entries, preserving the batch cascade's
    partner rule).  Exactly-once via the versioned table's app-scoped
    batch watermark.  Usage::

        q = (df.writeStream
               .foreachBatch(stream_dedup_cascade(root, app_id=ckpt))
               .option("checkpointLocation", ckpt).start())

    Read the dedup result back with :func:`accepted_docs`.
    """
    table = VersionedTable(state_root)
    commit = table.stream_batch_committer(app_id)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if table._batch_already_committed(batch_id, app_id):
            return  # replayed batch — state already advanced
        text = F.col(text_col)
        source = F.col("source") if "source" in batch_df.columns else F.lit("stream")
        # exact stage and signatures in one aggregation: equal digests
        # mean equal text, so a digest's md5 minhashes are each of its
        # docs' minhashes.  Only a doc's first shingle row carries the
        # doc, so the survivor struct is shuffled once per doc.
        docs = batch_df.filter(text.isNotNull()).select(
            F.md5(text).alias("digest"),
            F.struct(F.col(id_col).alias("doc_id"), source.alias("source"),
                     shingles(text, n=3).alias("w")).alias("doc"),
        )
        rows = docs.select("digest", "doc", F.posexplode_outer("doc.w").alias("pos", "g"))
        surv = (
            rows.groupBy("digest")
            .agg(F.min(F.when(F.col("pos") == 0, F.col("doc"))).alias("doc"),
                 *md5_minhashes(F.col("g")))
            .select(
                "doc.doc_id", "doc.source", "digest", "doc.w",
                *[F.concat(f"sig_{2 * b}", f"sig_{2 * b + 1}").alias(f"b{b}")
                  for b in range(_N_BANDS)],
            )
            .persist()
        )
        try:
            commit(_probe(table, surv, threshold), batch_id)  # the batch's only action
        finally:
            # a failed batch is redelivered under the same id: its
            # cached survivors must not outlive the attempt
            surv.unpersist()

    return process


def accepted_docs(spark: SparkSession, state_root: str) -> DataFrame:
    """The deduplicated corpus so far: (doc_id, source) of every accepted
    document, snapshot-isolated by the versioned read."""
    t = VersionedTable(state_root)
    return t.read(spark).filter(F.col("accepted")).select("doc_id", "source")
