"""Incremental (streaming) dedup cascade: exact → MinHash-banded LSH
over a corpus that ARRIVES in micro-batches, with the dedup state kept
in a versioned table (VERDICT r6 item 4).

The batch cascade (queries_llm.q_text_dedup_cascade) sees the whole
corpus at once; in operation documents arrive continuously and each
micro-batch must be deduplicated against EVERYTHING ACCEPTED BEFORE IT
without rescanning history.  The state that makes that possible is
exactly the cascade's two working sets, persisted:

  * the digest set (exact stage) — md5(text) of every exact survivor;
  * the LSH index (near stage)  — the 4 band values + the shingle set
    of every exact survivor (band values find candidates, shingles
    verify Jaccard).

Both live as COLUMNS of one versioned-table row per exact survivor, so
a micro-batch does: one digest anti-join (exact), one band equi-join +
shingle verify (near), one exactly-once append (state advance).  The
versioned table's app-id-scoped batch watermark makes the append
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

Scale notes (100 TB): per batch the state is touched by two equi-joins
keyed on digest / (band, bval) — both prunable hash shuffles; nothing
rescans history.  State grows with EXACT SURVIVORS (it is the dedup
output plus tombstoned near-dups carrying their index entries), i.e.
with the corpus the pipeline is keeping anyway.  At cluster scale the
state table would be bucketed by digest/band so the per-batch joins are
exchange-free on the state side; vacuum() bounds manifest history.

Reference basis: the reference pipeline dedups per-tenant streams at
ingest (docs/architecture.md:113-118 consumer model); this composes the
SURVEY §2 LLM dedup family into that streaming shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.versioned import VersionedTable

_THRESHOLD = 0.35
_N_BANDS = 4


def _features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc cascade features: digest, shingle set, 4 band values —
    the exact md5 values of the batch cascade (queries_llm) so the
    streaming path's decisions are comparable term for term.

    Round 14 (maintainer timing finding): the signatures were the naive
    ``array_min(transform(w, md5))`` form — every hash through Spark's
    INTERPRETED higher-order-function evaluator, the exact shape the
    batch path rejected in round 8 (operators.dedup.minhash_signatures
    docstring; ~8×|shingles| lambda dispatches per doc, re-paid every
    micro-batch).  Signatures now come from the same explode →
    whole-stage-codegen min-aggregates shape as the batch operator —
    one tiny per-batch doc_id shuffle instead; values are IDENTICAL
    (same md5 of the same strings), so the batch-equivalence tests and
    the versioned state format are unchanged."""
    from pulsar_ingestion_spark.functions.text import shingles
    from pulsar_ingestion_spark.queries_llm import _MINHASH_SEEDS

    base = df.select(
        F.col(id_col).alias("doc_id"),
        *([F.col("source")] if "source" in df.columns else [F.lit("stream").alias("source")]),
        F.md5(F.col(text_col)).alias("digest"),
        shingles(F.col(text_col), n=3).alias("w"),
    )
    sigs_flat = base.select("doc_id", F.explode_outer("w").alias("g")).groupBy(
        "doc_id"
    ).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("g")))).alias(f"sig_{i}")
            for i, s in enumerate(_MINHASH_SEEDS)
        ]
    )
    return base.join(sigs_flat, "doc_id").select(
        "doc_id", "source", "digest", "w",
        *[
            F.concat(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}")).alias(f"b{b}")
            for b in range(_N_BANDS)
        ],
    )


def _bands_long(df: DataFrame, id_alias: str) -> DataFrame:
    return df.select(
        F.col("doc_id").alias(id_alias),
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(_N_BANDS)]))
        .alias("band", "bval"),
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
        spark = batch_df.sparkSession
        feats = _features(batch_df, id_col, text_col)
        try:
            state = table.read(spark)
        except FileNotFoundError:
            state = None

        # exact stage: in-batch min-id per digest, then digest anti-join
        # against every prior exact survivor
        keep = feats.groupBy("digest").agg(F.min("doc_id").alias("_keep_id"))
        s1 = (
            feats.join(keep, "digest")
            .filter(F.col("doc_id") == F.col("_keep_id"))
            .drop("_keep_id")
        )
        if state is not None:
            # no distinct: state digests are unique by construction (one
            # row per exact survivor, later batches anti-joined here),
            # and left_anti semantics ignore right-side duplicates anyway
            # — the distinct was a wasted per-batch state shuffle (r14)
            s1 = s1.join(state.select("digest"), "digest", "left_anti")
        s1 = s1.persist()

        # near stage: candidate partners share >= 1 band and were seen
        # strictly before (prior batch, or same batch with smaller id)
        nb = _bands_long(s1, "x_id")
        pb = _bands_long(s1, "y_id")
        cand = (
            nb.join(pb, ["band", "bval"])
            .filter(F.col("y_id") < F.col("x_id"))
            .select("x_id", "y_id")
        )
        if state is not None:
            sb = _bands_long(state, "y_id")
            cand = cand.unionByName(
                nb.join(sb, ["band", "bval"]).select("x_id", "y_id")
            )
        cand = cand.distinct()
        xw = s1.select(F.col("doc_id").alias("x_id"), F.col("w").alias("xw"))
        partners = s1.select(F.col("doc_id").alias("y_id"), F.col("w").alias("yw"))
        if state is not None:
            partners = partners.unionByName(
                state.select(F.col("doc_id").alias("y_id"), F.col("w").alias("yw"))
            )
        inter = F.size(F.array_intersect("xw", "yw"))
        jac = F.round(inter / (F.size("xw") + F.size("yw") - inter), 6)
        removed = (
            cand.join(xw, "x_id")
            .join(partners, "y_id")
            .filter(jac >= threshold)
            .select(F.col("x_id").alias("doc_id"))
            .distinct()
        )
        out = s1.join(removed.withColumn("_rm", F.lit(True)), "doc_id", "left").select(
            "doc_id", "source", "digest", "w",
            *[f"b{b}" for b in range(_N_BANDS)],
            F.coalesce(~F.col("_rm"), F.lit(True)).alias("accepted"),
        )
        try:
            commit(out, batch_id)  # the batch's only action
        finally:
            # a failed batch is redelivered under the same id: its
            # cached survivors must not outlive the attempt
            s1.unpersist()

    return process


def accepted_docs(spark: SparkSession, state_root: str) -> DataFrame:
    """The deduplicated corpus so far: (doc_id, source) of every accepted
    document, snapshot-isolated by the versioned read."""
    t = VersionedTable(state_root)
    return t.read(spark).filter(F.col("accepted")).select("doc_id", "source")
