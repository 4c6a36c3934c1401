"""Information-retrieval queries over the document corpus: inverted
index construction, TF-IDF keyword extraction, and sequential path
mining over the event stream.

These are the retrieval-side counterparts of the dedup/quality family in
queries_llm.py — a pretraining pipeline needs them for corpus search,
topical analysis, and curriculum/mixture decisions.

Scale shapes:
  * posting lists are CAPPED before aggregation (partitioned window
    top-k), so no per-token collect ever exceeds k rows — a stopword's
    10^9-document posting list never materializes;
  * TF-IDF joins the (token, df) side broadcast — vocabulary is orders
    of magnitude smaller than the corpus;
  * path mining is lag/lead windows partitioned by user — the same
    exchange the sessionize/funnel family already pays.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import md5_lane
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables

_POSTINGS_CAP = 50

_INVERTED_ORACLE = f"""
WITH pres AS (
  SELECT DISTINCT t.token, d.doc_id
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
), ranked AS (
  SELECT token, doc_id,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY token) AS df
  FROM pres
)
SELECT token, df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings_head
FROM ranked
WHERE rn <= {_POSTINGS_CAP}
GROUP BY token, df
"""


@query("text_inverted_index", oracle=_INVERTED_ORACLE)
def q_text_inverted_index(spark, sf_dir):
    """Capped inverted index: per token, document frequency + the first
    {cap} doc ids as a comma-joined posting head.  The cap is applied
    with a PARTITIONED window BEFORE collect_list, so the aggregation
    state per token is bounded by the cap — safe even for stopwords at
    100 TB (df still counts every document)."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    pres = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .distinct()
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    ranked = pres.select(
        "token",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("token")).alias("df"),
    )
    return (
        ranked.filter(F.col("rn") <= _POSTINGS_CAP)
        .groupBy("token", "df")
        .agg(
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("postings_head")
        )
    )


_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
), ranked AS (
  SELECT doc_id, token, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rnk
  FROM scored
)
SELECT doc_id, token, tfidf, rnk FROM ranked WHERE rnk <= 3
"""


@query("text_tfidf_topk", oracle=_TFIDF_ORACLE)
def q_text_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF keywords per document.  The (token, df) relation is
    vocabulary-sized → broadcast to the tf side (no corpus shuffle for
    the join); the corpus total is a scalar agg cross-join; the final
    top-k window is partitioned by doc_id."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tfidf", "rnk")
    )


_PATH_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), paths AS (
  SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS cnt
  FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
  GROUP BY path
)
SELECT path, cnt FROM paths ORDER BY cnt DESC, path ASC LIMIT 20
"""


@query("events_path_topk", oracle=_PATH_ORACLE)
def q_events_path_topk(spark, sf_dir):
    """Most common 3-step event-type paths — lightweight sequential
    pattern mining (the funnel family's exploratory sibling).  Per-user
    lead windows (partitioned exchange), path counts with map-side
    partial agg, TakeOrderedAndProject top-20 with a total tie-break."""
    (ev,) = (load_tables(spark, sf_dir)[n] for n in ("events",))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    paths = seq.select(
        F.concat_ws(">", "event_type", "e2", "e3").alias("path")
    ).groupBy("path").agg(F.count("*").alias("cnt"))
    return paths.orderBy(F.col("cnt").desc(), F.col("path").asc()).limit(20)


# ---------------------------------------------------------------------------
# Corpus-hygiene text mining: line-level boilerplate dedup, winnowing
# fingerprints, BPE-merge statistics, vocabulary coverage

_LINE_DEDUP_ORACLE = """
WITH lines AS (
  SELECT d.doc_id, trim(l.line) AS line
  FROM documents d, unnest(string_split(d.text, chr(10))) AS l(line)
  WHERE trim(l.line) <> ''
), df AS (
  SELECT md5(line) AS h, count(DISTINCT doc_id) AS line_df
  FROM lines GROUP BY md5(line)
)
SELECT l.doc_id,
       count(*) AS n_lines,
       CAST(count(CASE WHEN f.line_df < 3 THEN 1 END) AS BIGINT) AS kept_lines,
       CAST(count(CASE WHEN f.line_df >= 3 THEN 1 END) AS BIGINT) AS removed_lines
FROM lines l JOIN df f ON md5(l.line) = f.h
GROUP BY l.doc_id
"""


@query("text_line_dedup", oracle=_LINE_DEDUP_ORACLE)
def q_text_line_dedup(spark, sf_dir):
    """C4-style line-level boilerplate removal accounting: a line that
    appears in ≥3 distinct documents (nav bars, cookie banners, license
    headers) is boilerplate; report kept/removed line counts per doc.
    Plan: explode lines once, df-count on the 32-byte line digest (one
    shuffle, map-side combine), hash-join the digest table back — the
    join key is the digest, never the line text, so shuffle volume is
    bounded by line COUNT not line bytes."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    # xxhash64, not md5: the digest never leaves the plan (outputs are
    # counts), so any collision-free hash yields identical df counts and
    # the native hash saves a full md5+hex pass over every line
    lines = (
        docs.select("doc_id", F.explode(F.split("text", "\n")).alias("raw"))
        .select("doc_id", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
        .select("doc_id", F.xxhash64("line").alias("h"))
    )
    # ONE exploded pass: collapse to (doc, line) occurrence counts first
    # (the text is scanned and split exactly once), derive the line df
    # from that digest-sized table, and aggregate weighted counts back —
    # a naive distinct+join-back would scan and explode the corpus twice.
    per_doc = lines.groupBy("doc_id", "h").agg(F.count("*").alias("occ"))
    df = per_doc.groupBy("h").agg(F.count("*").alias("line_df"))
    return per_doc.join(df, "h").groupBy("doc_id").agg(
        F.sum("occ").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("line_df") < 3, F.col("occ")).otherwise(0))
        .cast("bigint").alias("kept_lines"),
        F.sum(F.when(F.col("line_df") >= 3, F.col("occ")).otherwise(0))
        .cast("bigint").alias("removed_lines"),
    )


_WINNOW_K = 7   # char k-gram length
_WINNOW_W = 4   # winnowing window (min-hash per window of w consecutive grams)

_WINNOW_ORACLE = f"""
WITH g AS (
  SELECT doc_id, lower(text) AS t,
         len(lower(text)) - {_WINNOW_K} + 1 AS n_grams
  FROM documents WHERE len(text) >= {_WINNOW_K + _WINNOW_W - 1}
), hashes AS (
  SELECT doc_id,
         list_transform(range(1, n_grams + 1),
           i -> CAST(('0x' || substring(md5(substring(t, CAST(i AS INTEGER), {_WINNOW_K})), 1, 8))
                     AS BIGINT)) AS hs,
         n_grams
  FROM g
), fps AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, n_grams - {_WINNOW_W} + 2),
           i -> list_min(hs[CAST(i AS INTEGER):CAST(i + {_WINNOW_W} - 1 AS INTEGER)]))) AS fp
  FROM hashes
)
SELECT doc_id, len(fp) AS n_fingerprints,
       list_min(fp) AS min_fp, list_max(fp) AS max_fp
FROM fps
"""


@query("text_winnowing", oracle=_WINNOW_ORACLE)
def q_text_winnowing(spark, sf_dir):
    """Winnowing document fingerprints (the MOSS local-similarity scheme):
    hash every char 7-gram, keep the minimum hash of each sliding window
    of 4 — guarantees any shared substring ≥ k+w-1 chars shares a
    fingerprint, at ~1/w the storage of full shingling.  Entirely narrow
    array expressions (no shuffle at all until a consumer groups by
    fingerprint); reported here as per-doc fingerprint-set stats so the
    output is hashable."""
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    k, w = _WINNOW_K, _WINNOW_W
    prepared = docs.filter(F.length("text") >= k + w - 1).select(
        "doc_id", F.lower("text").alias("t")
    )
    hashed = prepared.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, length(t) - {k} + 1), "
            f"i -> CAST(conv(substring(md5(substring(t, i, {k})), 1, 8), 16, 10) AS BIGINT))"
        ).alias("hs"),
    )
    fps = hashed.select(
        "doc_id",
        F.expr(
            f"array_distinct(transform(sequence(1, size(hs) - {w} + 1), "
            f"i -> array_min(slice(hs, i, {w}))))"
        ).alias("fp"),
    )
    return fps.select(
        "doc_id",
        F.size("fp").alias("n_fingerprints"),
        F.array_min("fp").alias("min_fp"),
        F.array_max("fp").alias("max_fp"),
    )


_BPE_TOP = 20

_BPE_ORACLE = f"""
WITH wf AS (
  SELECT w.word AS word, count(*) AS freq
  FROM documents d,
       unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS w(word)
  WHERE w.word <> ''
  GROUP BY w.word
), pairs AS (
  SELECT p.pair AS pair, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM wf,
       unnest(list_append(
         list_transform(range(1, CAST(len(word) AS INTEGER) - 1 + 1),
           i -> substring(word, CAST(i AS INTEGER), 1) || ' ' || substring(word, CAST(i AS INTEGER) + 1, 1)),
         substring(word, CAST(len(word) AS INTEGER), 1) || ' </w>')) AS p(pair)
  WHERE len(word) >= 1
  GROUP BY p.pair
)
SELECT pair, pair_count FROM pairs
ORDER BY pair_count DESC, pair
LIMIT {_BPE_TOP}
"""


@query("text_bpe_corpus_prep", oracle=_BPE_ORACLE)
def q_text_bpe_corpus_prep(spark, sf_dir):
    """The first BPE training step at corpus scale: adjacent-symbol pair
    frequencies (chars + end-of-word marker) weighted by word frequency.
    The key scale move: pair statistics are computed over the DISTINCT
    word table (vocabulary-sized, Zipf ⇒ millions of rows at 100 TB, not
    trillions) with each word's corpus frequency as the weight — the
    explode runs on vocab rows, never on raw tokens."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    wf = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs_expr = (
        "array_append("
        "  transform(sequence(1, length(word) - 1), "
        "            i -> concat(substring(word, i, 1), ' ', substring(word, i + 1, 1))), "
        "  concat(substring(word, length(word), 1), ' </w>'))"
    )
    return (
        wf.select(F.explode(F.expr(pairs_expr)).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(_BPE_TOP)
    )


_VOCAB_SIZE = 256

_VOCAB_ORACLE = f"""
WITH wf AS (
  SELECT w.word AS word, count(*) AS freq
  FROM documents d,
       unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS w(word)
  WHERE w.word <> ''
  GROUP BY w.word
), vocab AS (
  SELECT word FROM wf ORDER BY freq DESC, word LIMIT {_VOCAB_SIZE}
), toks AS (
  SELECT d.doc_id, t.word AS word
  FROM documents d,
       unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS t(word)
  WHERE t.word <> ''
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(count(CASE WHEN v.word IS NOT NULL THEN 1 END) AS BIGINT) AS in_vocab,
       round(count(CASE WHEN v.word IS NOT NULL THEN 1 END) * 1.0 / count(*), 6) AS coverage
FROM toks t LEFT JOIN vocab v ON t.word = v.word
GROUP BY t.doc_id
"""


@query("text_vocab_coverage", oracle=_VOCAB_ORACLE)
def q_text_vocab_coverage(spark, sf_dir):
    """Per-document coverage by the corpus top-256 vocabulary — the
    fast OOV-rate proxy used to spot non-linguistic or wrong-domain
    documents before tokenizer training.  The vocabulary is a top-k of
    the word-frequency agg (deterministic tie-break) and joins BROADCAST
    against the exploded token stream; one shuffle for the word counts,
    one for the per-doc rollup."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    toks = (
        docs.select("doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    wf = toks.groupBy("word").agg(F.count("*").alias("freq"))
    vocab = (
        wf.orderBy(F.col("freq").desc(), F.col("word"))
        .limit(_VOCAB_SIZE)
        .select("word", F.lit(1).alias("in_v"))
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count(F.when(F.col("in_v").isNotNull(), 1)).cast("bigint").alias("in_vocab"),
            F.round(
                F.count(F.when(F.col("in_v").isNotNull(), 1)) * 1.0 / F.count("*"), 6
            ).alias("coverage"),
        )
    )


_CODE_KEYWORDS = ["def", "return", "import", "class", "function", "const", "var", "lambda"]
_KW_SQL = "[" + ", ".join(f"'{w}'" for w in _CODE_KEYWORDS) + "]"

_CODE_DETECT_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         round(len(regexp_extract_all(text, '[{{}}();=<>]')) * 1.0 / len(text), 6) AS sym_ratio,
         round(len(list_filter(string_split(text, chr(10)),
               l -> regexp_matches(l, '^(  |\t)'))) * 1.0
               / len(string_split(text, chr(10))), 6) AS indent_frac,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
              w -> list_contains({_KW_SQL}, w))) AS BIGINT) AS kw_hits
  FROM documents WHERE len(text) > 0
)
SELECT doc_id, sym_ratio, indent_frac, kw_hits,
       (sym_ratio > 0.02 AND (indent_frac >= 0.1 OR kw_hits >= 2)) AS is_code
FROM f
"""


@query("text_code_detect", oracle=_CODE_DETECT_ORACLE)
def q_text_code_detect(spark, sf_dir):
    """Heuristic code-vs-prose classifier — the filter a pretraining mix
    uses to route documents into the code pipeline: symbol density,
    indented-line fraction, and programming-keyword hits, thresholded on
    ROUNDED features so the verdict is engine-stable.  Pure narrow
    column expressions; at 100 TB this is a free rider on the documents
    scan."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    d = docs.filter(F.length("text") > 0)
    sym_ratio = F.round(
        F.regexp_count("text", F.lit(r"[{}();=<>]")) * 1.0 / F.length("text"), 6
    )
    lines_arr = F.split("text", "\n")
    indent_frac = F.round(
        F.size(F.filter(lines_arr, lambda l: l.rlike(r"^(  |\t)"))) * 1.0
        / F.size(lines_arr), 6,
    )
    words_arr = F.split(F.trim(F.lower("text")), r"\s+")
    kw_hits = F.size(F.filter(words_arr, lambda w: w.isin(_CODE_KEYWORDS))).cast("bigint")
    f = d.select(
        "doc_id",
        sym_ratio.alias("sym_ratio"),
        indent_frac.alias("indent_frac"),
        kw_hits.alias("kw_hits"),
    )
    return f.withColumn(
        "is_code",
        (F.col("sym_ratio") > 0.02)
        & ((F.col("indent_frac") >= 0.1) | (F.col("kw_hits") >= 2)),
    )


# ---------------------------------------------------------------------------
# Round 5b: ranked retrieval (BM25) and corpus-contrast keyness — the two
# IR scores a curation pipeline reaches for right after TF-IDF.
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "hash", "stream")
_BM25_TOPK = 15

_BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token IN ('spark', 'hash', 'stream')
  GROUP BY doc_id, token
), df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id,
         SUM(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * ({_BM25_K1} + 1.0))
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl)))
           AS score
  FROM tf
  JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS bm25
FROM scored
ORDER BY round(score, 6) DESC, doc_id ASC
LIMIT {_BM25_TOPK}
"""


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def q_text_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval for a fixed conjunctive query
    ({terms}): top-{k} documents by Okapi score (k1={k1}, b={b}).
    Token stats follow the TF-IDF plan above — tf is filtered to the
    query terms BEFORE aggregation (the scan prunes to a |terms|·|docs|
    relation, not the full token stream), (token, df) and the scalar
    (N, avgdl) sides broadcast, and the final top-k orders by the
    ROUNDED score with a doc_id tie-break so ranking is engine-stable.
    Spark plan: NO explode anywhere — per-doc length is size(split())
    and per-term tf is a size(filter()) higher-order expression, both
    narrow projections over one scan; the (n_docs, avgdl, per-term df)
    statistics collapse to a single 1-row aggregate broadcast back, so
    the only data shuffle is the per-doc score aggregation over the
    SPARSE (doc, matching-term) rows and the final TakeOrdered.  At
    100 TB this scans the corpus once and shuffles only matches —
    the token-stream explode the oracle uses would shuffle every word.""".format(
        terms="/".join(_BM25_TERMS), k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B
    )
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)

    def tf_of(term):
        # native array_remove instead of a higher-order filter: whole-stage
        # codegen handles it, a lambda HOF is interpreter-evaluated per word
        return F.size("words") - F.size(F.array_remove(F.col("words"), term))

    narrow = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    ).select(
        "doc_id",
        F.size("words").alias("dl"),
        *[tf_of(t).alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    stats = narrow.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    stack_expr = "stack({n}, {args}) as (token, tf)".format(
        n=len(_BM25_TERMS), args=", ".join(f"'{t}', tf_{t}" for t in _BM25_TERMS)
    )
    long = narrow.select("doc_id", "dl", F.expr(stack_expr)).filter(F.col("tf") > 0)
    df_col = F.col(f"df_{_BM25_TERMS[0]}")
    for t in _BM25_TERMS[1:]:
        df_col = F.when(F.col("token") == t, F.col(f"df_{t}")).otherwise(df_col)
    idf = F.log(
        1.0 + (F.col("n_docs").cast("double") - df_col + 0.5) / (df_col + 0.5)
    )
    denom = F.col("tf") + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    scored = (
        long.crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )


_KEYNESS_TOPK = 20

_KEYNESS_ORACLE = f"""
WITH tok AS (
  SELECT CASE WHEN lang = 'en' THEN 'A' ELSE 'B' END AS corpus,
         unnest(string_split(text, ' ')) AS token
  FROM documents
), freq AS (
  SELECT token,
         CAST(SUM(CASE WHEN corpus = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN corpus = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM tok GROUP BY token
), tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS c, CAST(SUM(b) AS BIGINT) AS d FROM freq
), g2 AS (
  SELECT f.token, f.a, f.b,
         2.0 * (f.a * ln(CAST(f.a AS DOUBLE) * (t.c + t.d) / (CAST(t.c AS DOUBLE) * (f.a + f.b)))
              + f.b * ln(CAST(f.b AS DOUBLE) * (t.c + t.d) / (CAST(t.d AS DOUBLE) * (f.a + f.b))))
           AS g2,
         CASE WHEN CAST(f.a AS DOUBLE) / t.c >= CAST(f.b AS DOUBLE) / t.d
              THEN 'A' ELSE 'B' END AS leans
  FROM freq f CROSS JOIN tot t
  WHERE f.a > 0 AND f.b > 0
)
SELECT token, a, b, round(g2, 6) AS keyness, leans
FROM g2
ORDER BY round(g2, 6) DESC, token ASC
LIMIT {_KEYNESS_TOPK}
"""


@query("text_keyness_loglik", oracle=_KEYNESS_ORACLE)
def q_text_keyness_loglik(spark, sf_dir):
    """Log-likelihood (G2) keyness between two corpus slices (lang='en'
    vs the rest): which tokens are over-represented in one slice.  One
    token-stream aggregation produces both slice frequencies as
    conditional sums (single shuffle on token — never one pass per
    slice); the grand totals are a broadcast scalar; G2 is the standard
    Dunning statistic computed once in double with identical association
    on both engines, ranked by the rounded score with a token tie-break.
    Tokens absent from either slice are excluded (their one-sided G2
    term is degenerate) — the report targets CONTRASTS, not exclusives,
    which corpus-mixture tuning reads separately."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    tok = docs.select(
        F.when(F.col("lang") == "en", "A").otherwise("B").alias("corpus"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    freq = tok.groupBy("token").agg(
        F.sum(F.when(F.col("corpus") == "A", 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(F.col("corpus") == "B", 1).otherwise(0)).cast("bigint").alias("b"),
    )
    tot = freq.agg(
        F.sum("a").cast("bigint").alias("c"), F.sum("b").cast("bigint").alias("d")
    )
    ad = F.col("a").cast("double")
    bd = F.col("b").cast("double")
    cd = F.col("c").cast("double")
    dd = F.col("d").cast("double")
    nd = F.col("c") + F.col("d")
    g2 = 2.0 * (
        F.col("a") * F.log(ad * nd / (cd * (F.col("a") + F.col("b"))))
        + F.col("b") * F.log(bd * nd / (dd * (F.col("a") + F.col("b"))))
    )
    return (
        freq.filter((F.col("a") > 0) & (F.col("b") > 0))
        .crossJoin(F.broadcast(tot))
        .select(
            "token", "a", "b",
            F.round(g2, 6).alias("keyness"),
            F.when(ad / F.col("c") >= bd / F.col("d"), "A").otherwise("B").alias("leans"),
        )
        .orderBy(F.col("keyness").desc(), F.col("token").asc())
        .limit(_KEYNESS_TOPK)
    )


# ---------------------------------------------------------------------------
# Pointwise-mutual-information collocations (round 8).

_PMI_MIN_COUNT = 5
_PMI_TOPK = 25

_PMI_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), big AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), bc AS (
  SELECT bigram, count(*) AS cnt FROM big GROUP BY bigram
), tot AS (
  SELECT SUM(cnt) AS n FROM bc
), m1 AS (
  SELECT split_part(bigram, ' ', 1) AS w, SUM(cnt) AS c1 FROM bc GROUP BY 1
), m2 AS (
  SELECT split_part(bigram, ' ', 2) AS w, SUM(cnt) AS c2 FROM bc GROUP BY 1
)
SELECT b.bigram, CAST(b.cnt AS BIGINT) AS cnt,
       round(log2((CAST(b.cnt AS DOUBLE) * t.n) / (CAST(m1.c1 AS DOUBLE) * m2.c2)), 6)
         AS pmi
FROM bc b
JOIN m1 ON m1.w = split_part(b.bigram, ' ', 1)
JOIN m2 ON m2.w = split_part(b.bigram, ' ', 2)
CROSS JOIN tot t
WHERE b.cnt >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, b.bigram
LIMIT {_PMI_TOPK}
"""


@query("text_pmi_collocations", oracle=_PMI_ORACLE)
def q_text_pmi_collocations(spark, sf_dir):
    """Top-25 collocations by pointwise mutual information over
    whitespace bigrams (min corpus count 5): PMI = log₂(c(ab)·N /
    (c₁(a)·c₂(b))) with first/second-position marginals taken from the
    bigram count table itself.

    Plan: one narrow zip for bigrams (text_bigram_logprob's shape), one
    grouped count, two vocabulary-sized marginal aggregates joined back
    (broadcast candidates), a scalar-N broadcast cross join, then a
    global top-k — `ORDER BY ... LIMIT` compiles to TakeOrderedAndProject
    (per-partition heaps + driver merge of 25 rows), never a full sort.
    PMI divides/multiplies exact integer counts as doubles, so ordering
    compares bitwise-identical values on both engines (tie-break:
    bigram text)."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    toks = docs.select(F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"))
    big = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    # bc feeds FOUR consumers (m1, m2, tot, the scored main branch);
    # persist so the reduce-side bigram aggregation materializes once
    # instead of once per branch (round 13 — the exchange was shared
    # via ReuseExchange but the post-shuffle hash agg re-ran 4×).
    bc = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    bc = bc.withColumn("w1", F.substring_index("bigram", " ", 1)).withColumn(
        "w2", F.substring_index("bigram", " ", -1)
    ).persist()
    m1 = bc.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    m2 = bc.groupBy("w2").agg(F.sum("cnt").alias("c2"))
    tot = bc.agg(F.sum("cnt").alias("n"))
    pmi = F.round(
        F.log2(
            (F.col("cnt").cast("double") * F.col("n"))
            / (F.col("c1").cast("double") * F.col("c2"))
        ), 6
    )
    return (
        bc.filter(F.col("cnt") >= _PMI_MIN_COUNT)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("bigram", F.col("cnt").cast("bigint").alias("cnt"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# Round 8: per-document token entropy (lexical diversity).

_TOKEN_ENTROPY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
), n AS (
  SELECT doc_id, SUM(c) AS n, count(*) AS n_distinct FROM tf GROUP BY doc_id
), terms AS (
  SELECT t.doc_id,
         CAST(round(-(CAST(t.c AS DOUBLE) / n.n)
                    * log2(CAST(t.c AS DOUBLE) / n.n), 6)
              AS DECIMAL(18,6)) AS term
  FROM tf t JOIN n ON n.doc_id = t.doc_id
)
SELECT n.doc_id, CAST(n.n AS BIGINT) AS n_tokens,
       CAST(n.n_distinct AS BIGINT) AS n_distinct,
       CAST(SUM(term) AS DOUBLE) AS entropy,
       round(CAST(n.n_distinct AS DOUBLE) / n.n, 6) AS ttr
FROM terms JOIN n ON n.doc_id = terms.doc_id
GROUP BY n.doc_id, n.n, n.n_distinct
"""


@query("text_token_entropy", oracle=_TOKEN_ENTROPY_ORACLE)
def q_text_token_entropy(spark, sf_dir):
    """Per-document unigram entropy + type-token ratio — the lexical
    diversity pair used to flag template/boilerplate docs (low entropy
    at high length) before they flood a training mix; complements
    text_repetition_ratios' n-gram view.

    One explode → (doc, token-digest) count → per-doc aggregate;
    tokens shuffle as xxhash64 digests, not strings (counts-by-digest ==
    counts-by-string, text_line_dedup precedent), and entropy terms are
    rounded-to-6 then DECIMAL-summed so the Σ is order-free."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    ).select("doc_id", F.xxhash64("tok").alias("tk"))
    tf = toks.groupBy("doc_id", "tk").agg(F.count(F.lit(1)).alias("c"))
    n = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    p = F.col("c").cast("double") / F.col("n")
    terms = tf.join(n, "doc_id").select(
        "doc_id", F.round(-p * F.log2(p), 6).cast("decimal(18,6)").alias("term")
    )
    return terms.groupBy("doc_id").agg(F.sum("term").alias("tsum")).join(
        n, "doc_id"
    ).select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.col("tsum").cast("double").alias("entropy"),
        F.round(F.col("n_distinct").cast("double") / F.col("n"), 6).alias("ttr"),
    )


# ---------------------------------------------------------------------------
# Round 8: feature hashing (hashing trick) bucket audit.

_FH_BUCKETS = 64

_HASHED_FEATURES_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, count(*) AS freq FROM toks GROUP BY tok
), bucketed AS (
  SELECT CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % {_FH_BUCKETS}
           AS bucket,
         freq
  FROM vocab
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_features,
       CAST(SUM(freq) AS BIGINT) AS total_count
FROM bucketed GROUP BY bucket
"""


@query("text_hashed_features", oracle=_HASHED_FEATURES_ORACLE)
def q_text_hashed_features(spark, sf_dir):
    """Feature-hashing bucket audit: map the corpus vocabulary into 64
    hash buckets (the hashing trick a streaming featurizer uses instead
    of a vocabulary dictionary) and report per-bucket feature counts and
    occurrence mass — the collision-load report that sizes the bucket
    count before training.

    Vocabulary collapses first (one token-grouped count — the only
    data-scale shuffle); bucketing is then a vocabulary-sized projection
    through the portable md5 hash with a 64-row aggregate on top."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    bucket = md5_lane(F.col("tok")) % _FH_BUCKETS
    return vocab.select(bucket.alias("bucket"), "freq").groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_features"),
        F.sum("freq").cast("bigint").alias("total_count"),
    )


# ---------------------------------------------------------------------------
# Round 8: Flesch-style readability from regex-countable proxies.

_READABILITY_ORACLE = r"""
WITH counted AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS syllables
  FROM documents
)
SELECT doc_id, CAST(words AS BIGINT) AS words,
       CAST(sentences AS BIGINT) AS sentences,
       CAST(syllables AS BIGINT) AS syllables,
       round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
             - 84.6 * (CAST(syllables AS DOUBLE) / words), 4)
         AS flesch_score
FROM counted
"""


@query("text_readability_flesch", oracle=_READABILITY_ORACLE)
def q_text_readability_flesch(spark, sf_dir):
    """Flesch reading-ease per document with regex-countable proxies:
    vowel-group runs for syllables, terminal-punctuation runs for
    sentences (clamped ≥1) — the corpus-hygiene readability screen
    (very low scores flag legalese/boilerplate; impossibly high ones
    flag token soup).  Pure per-row narrow regex work in whole-stage
    codegen — embarrassingly parallel at any scale; the score is one
    IEEE expression over exact integer counts."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    syllables = F.greatest(
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
        F.lit(1),
    )
    c = docs.select(
        "doc_id", words.alias("words"), sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    return c.select(
        "doc_id",
        F.col("words").cast("bigint").alias("words"),
        F.col("sentences").cast("bigint").alias("sentences"),
        F.col("syllables").cast("bigint").alias("syllables"),
        F.round(
            206.835 - 1.015 * (F.col("words").cast("double") / F.col("sentences"))
            - 84.6 * (F.col("syllables").cast("double") / F.col("words")), 4
        ).alias("flesch_score"),
    )
