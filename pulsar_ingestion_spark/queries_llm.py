"""LLM-training-data-pipeline queries over documents/embeddings —
dedup, similarity search, text analysis (north star, SURVEY.md §2.5).

Oracle-parity notes: dot products fold left in both engines
(F.aggregate vs list_reduce after a 0.0-seeded start — IEEE-identical),
similarities are rounded to 6 digits BEFORE ordering/filtering so top-k
membership is stable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.dedup import (
    MINHASH_SEEDS,
    dedup_exact,
    dedup_fingerprint,
    embedding_near_dups,
    minhash_banded_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from pulsar_ingestion_spark.operators.ranking import best_struct
from pulsar_ingestion_spark.operators.similarity import knn_bruteforce, knn_lsh
from pulsar_ingestion_spark.functions.text import (
    STOPWORDS,
    quality_score,
    stopword_ratio,
    token_count,
    word_count,
)
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS dup_cnt
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    return dedup_exact(load_tables(spark, sf_dir)["documents"])


@query(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(lower(text)), '\\s+'))), ' ')) AS fingerprint,
           min(doc_id) AS canonical_id, count(*) AS dup_cnt
    FROM documents GROUP BY 1
    """,
)
def q_dedup_fingerprint(spark, sf_dir):
    return dedup_fingerprint(load_tables(spark, sf_dir)["documents"])


@query(
    "dedup_keep_best",
    oracle="""
    WITH scored AS (
      SELECT doc_id, md5(text) AS content_hash,
             len(regexp_split_to_array(trim(text), '\\s+')) AS wc
      FROM documents
    )
    SELECT content_hash,
           (max({'wc': wc, 'id': -doc_id})).id * -1 AS kept_id,
           count(*) AS dup_cnt
    FROM scored
    GROUP BY content_hash
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    # Corpus-dedup policy: within an exact-duplicate group keep the
    # highest-quality copy (here: most words; real pipelines use the
    # quality score), tie-broken to the LOWEST doc_id.
    docs = load_tables(spark, sf_dir)["documents"]
    wc = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    scored = docs.select(
        "doc_id", F.md5("text").alias("content_hash"), wc.alias("wc")
    )
    best = best_struct(scored, [("wc", "desc"), ("doc_id", "asc")])
    return scored.groupBy("content_hash").agg(
        best.getField("doc_id").alias("kept_id"),
        F.count("*").alias("dup_cnt"),
    )


@query(
    "text_pii_scrub",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               concat(text, ' contact: user', CAST(doc_id AS VARCHAR),
                      '@example.com or +1-555-', CAST(1000 + doc_id % 9000 AS VARCHAR)),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
    FROM documents WHERE doc_id < 200
    """,
)
def q_text_pii_scrub(spark, sf_dir):
    # PII scrubbing — email/phone masking before training; pure
    # regexp_replace chain (JVM, narrow map).  The fixture plants
    # deterministic PII so the scrub is observable.
    docs = load_tables(spark, sf_dir)["documents"]
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(with_pii, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
        r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
        "<PHONE>",
    )
    return docs.filter(F.col("doc_id") < 200).select("doc_id", scrubbed.alias("scrubbed"))


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
            FROM documents)
      WHERE len(w) >= 3
    ), ex AS (
      SELECT id, len(grams) AS sz, unnest(grams) AS gram FROM sh
    ), inter AS (
      SELECT a.id AS id_a, b.id AS id_b, a.sz AS size_a, b.sz AS size_b,
             count(*) AS inter_cnt
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.id < b.id
      GROUP BY a.id, b.id, a.sz, b.sz
    )
    SELECT id_a, id_b,
           inter_cnt / (size_a + size_b - inter_cnt) AS jaccard
    FROM inter
    WHERE inter_cnt / (size_a + size_b - inter_cnt) >= 0.35
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    # Exact word-3-gram Jaccard on shingle-sharing candidates; threshold 0.35.
    docs = load_tables(spark, sf_dir)["documents"]
    docs3 = fan_out(docs.filter(F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 3), spark)
    return ngram_jaccard_pairs(docs3, threshold=0.35, n=3)


@query(
    "dedup_containment",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
            FROM documents)
      WHERE len(w) >= 3
    ), ex AS (
      SELECT id, len(grams) AS sz, unnest(grams) AS gram FROM sh
    ), inter AS (
      SELECT a.id AS id_a, b.id AS id_b, a.sz AS size_a, b.sz AS size_b,
             count(*) AS inter_cnt
      FROM ex a JOIN ex b ON a.gram = b.gram AND a.id < b.id
      GROUP BY a.id, b.id, a.sz, b.sz
    )
    SELECT id_a, id_b,
           inter_cnt / least(size_a, size_b) AS containment
    FROM inter
    WHERE inter_cnt / least(size_a, size_b) >= 0.6
    """,
)
def q_dedup_containment(spark, sf_dir):
    # Round 11: exact 3-gram CONTAINMENT (|A∩B| / min|A|,|B| — the
    # one-sided near-dup detector: a small doc quoted inside a big one
    # scores ~1 where Jaccard dilutes toward the size ratio; the classic
    # boilerplate/quote-inclusion case in training-data dedup).  Same
    # candidate plan as dedup_ngram_jaccard: shingle-sharing equi-join,
    # never all-pairs; threshold 0.6.
    from pulsar_ingestion_spark.operators.dedup import ngram_containment_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    docs3 = fan_out(docs.filter(F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 3), spark)
    return ngram_containment_pairs(docs3, threshold=0.6, n=3)


_MINHASH_SHINGLE_CTES = r"""
WITH raw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS rw
  FROM documents
), wd AS (
  SELECT doc_id,
         CASE WHEN len(rw) >= 3 THEN
           list_distinct(list_transform(range(1, len(rw) - 2 + 1),
             i -> concat(rw[i], ' ', rw[i+1], ' ', rw[i+2])))
         ELSE [array_to_string(rw, ' ')] END AS w
  FROM raw
)"""

_JACCARD_MEASURE = (
    "len(list_intersect(x.w, y.w))"
    " / (len(x.w) + len(y.w) - len(list_intersect(x.w, y.w)))"
)
_CONTAINMENT_MEASURE = "len(list_intersect(x.w, y.w)) / least(len(x.w), len(y.w))"


def _banded_verify_tail(measure: str, alias: str, threshold: float) -> str:
    """Shared cand-join + exact-verify tail of every banded oracle
    (round-11 review finding #5: ONE definition of the candidate CTE and
    verify shape so the jaccard/containment twins can't drift)."""
    return f""", cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
), j AS (
  SELECT c.id_a, c.id_b,
         {measure} AS {alias}
  FROM cand c JOIN wd x ON x.doc_id = c.id_a JOIN wd y ON y.doc_id = c.id_b
)
SELECT id_a, id_b, {alias} FROM j WHERE {alias} >= {threshold}
"""


def _md5_sig_band_ctes(seeds: list[str], num_bands: int) -> str:
    """Shared md5-family signature + band CTEs (sigs over per-seed md5
    minhashes, hex-concat band values)."""
    sigcols = ",\n         ".join(
        f"list_aggregate(list_transform(w, x -> md5(concat('{s}:', x))), 'min') AS sig_{i}"
        for i, s in enumerate(seeds)
    )
    bandrows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat(sig_{2 * b}, sig_{2 * b + 1}) AS bval FROM sigs"
        for b in range(num_bands)
    )
    return f""", sigs AS (
  SELECT doc_id, w,
         {sigcols}
  FROM wd
), bands AS (
  {bandrows}
)"""


def _minhash_banded_oracle(seeds: list[str], num_bands: int, threshold: float) -> str:
    """DuckDB recomputation of the md5-family banded pipeline
    (operators/dedup.py minhash_banded_pairs, hash="md5") — identical
    3-gram shingles, per-seed md5 minhashes, hex-concat band values,
    exact shingle-Jaccard verify."""
    return (
        _MINHASH_SHINGLE_CTES
        + _md5_sig_band_ctes(seeds, num_bands)
        + _banded_verify_tail(_JACCARD_MEASURE, "jaccard", threshold)
    )


def _minhash_banded_containment_oracle(
    seeds: list[str], num_bands: int, threshold: float
) -> str:
    """Containment-verify twin of :func:`_minhash_banded_oracle` —
    identical signature/band CTEs, verify formula swapped to
    |A∩B| / min(|A|,|B|)."""
    return (
        _MINHASH_SHINGLE_CTES
        + _md5_sig_band_ctes(seeds, num_bands)
        + _banded_verify_tail(_CONTAINMENT_MEASURE, "containment", threshold)
    )


def _minhash_ensemble_containment_oracle(
    seeds: list[str], num_bands: int, threshold: float
) -> str:
    """DuckDB recomputation of the LSH-Ensemble containment pipeline
    (operators/dedup.py minhash_ensemble_containment): identical md5
    signatures, the r=2 folded band family PLUS the r=1 single-signature
    band family restricted to cross-size-class pairs, one exact
    containment verify over the unioned candidates."""
    from pulsar_ingestion_spark.operators.dedup import (
        ENSEMBLE_BUCKET_CAP,
        SIZE_CLASS_BOUNDS,
    )

    cls_case = "CASE " + " ".join(
        f"WHEN len(w) < {b} THEN {i}" for i, b in enumerate(SIZE_CLASS_BOUNDS)
    ) + f" ELSE {len(SIZE_CLASS_BOUNDS)} END"
    sigcols = ",\n         ".join(
        f"list_aggregate(list_transform(w, x -> md5(concat('{s}:', x))), 'min') AS sig_{i}"
        for i, s in enumerate(seeds)
    )
    b2rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat(sig_{2 * b}, sig_{2 * b + 1}) AS bval FROM sigs"
        for b in range(num_bands)
    )
    b1rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, sig_{i} AS bval, cls FROM sigs"
        for i in range(len(seeds))
    )
    return (
        _MINHASH_SHINGLE_CTES
        + f""", sigs AS (
  SELECT doc_id, w, ({cls_case}) AS cls,
         {sigcols}
  FROM wd
), bands2 AS (
  {b2rows}
), bands1u AS (
  {b1rows}
), bands1 AS (
  SELECT doc_id, band, bval, cls FROM (
    SELECT doc_id, band, bval, cls,
           row_number() OVER (
             PARTITION BY band, bval, cls
             ORDER BY CAST(('0x' || substring(md5(concat('ecap:',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT),
                      doc_id) AS rn
    FROM bands1u
  ) WHERE rn <= {ENSEMBLE_BUCKET_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands2 a JOIN bands2 b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
  UNION
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands1 a JOIN bands1 b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
   AND a.cls <> b.cls
), j AS (
  SELECT c.id_a, c.id_b,
         round({_CONTAINMENT_MEASURE}, 6) AS containment
  FROM cand c JOIN wd x ON x.doc_id = c.id_a JOIN wd y ON y.doc_id = c.id_b
)
SELECT id_a, id_b, containment FROM j WHERE containment >= {threshold}
"""
    )


def _minhash_km_oracle(num_sigs: int, num_bands: int, threshold: float) -> str:
    """DuckDB recomputation of the km_md5 (portable Kirsch-Mitzenmacher)
    banded pipeline: two 27-bit md5 lanes per shingle, sig_i =
    min(h1 + i*h2), band value = (sig<<31) + sig — bit-identical to
    operators/dedup.py minhash_signatures(hash="km_md5")."""
    mask = (1 << 27) - 1
    sigcols = ",\n         ".join(
        f"min(h1 + {i} * h2) AS sig_{i}" for i in range(num_sigs)
    )
    bandrows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (sig_{2 * b} << 31) + sig_{2 * b + 1} AS bval FROM sigs0"
        for b in range(num_bands)
    )
    return (
        _MINHASH_SHINGLE_CTES
        + f""", ex AS (
  SELECT doc_id, unnest(w) AS g FROM wd
), hh AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('km1:' || g), 1, 8)) AS BIGINT) & {mask} AS h1,
         CAST(('0x' || substring(md5('km2:' || g), 1, 8)) AS BIGINT) & {mask} AS h2
  FROM ex
), sigs0 AS (
  SELECT doc_id,
         {sigcols}
  FROM hh GROUP BY doc_id
), bands AS (
  {bandrows}
)"""
        + _banded_verify_tail(_JACCARD_MEASURE, "jaccard", threshold)
    )


@query(
    "dedup_containment_lshensemble",
    oracle=_minhash_ensemble_containment_oracle(MINHASH_SEEDS, 4, 0.6),
)
def q_dedup_containment_lshensemble(spark, sf_dir):
    # Round 11 (session 3): the LSH-Ensemble size-class refinement of
    # dedup_containment_banded (Zhu et al. VLDB 2016, adapted to a
    # self-join dedup).  The single-class band stage is Jaccard-tuned —
    # a small doc quoted inside a much larger one induces a TINY Jaccard
    # at high containment, so its r=2 band-collision odds collapse.
    # This variant adds an r=1 single-signature band family restricted
    # to CROSS-size-class pairs (ratio-4 integer ladder, engine-exact):
    # 1-(1-J)^8 vs 1-(1-J²)^4 collision odds exactly where the
    # containment detector's target pairs live, while the class
    # predicate keeps the high-collision family off the dominant
    # same-class volume.  Candidates = strict superset of the
    # single-class operator's; precision stays 1 (exact verify).
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    from pulsar_ingestion_spark.operators.dedup import minhash_ensemble_containment

    return minhash_ensemble_containment(docs, n=3, num_bands=4, threshold=0.6)


@query(
    "dedup_containment_banded",
    oracle=_minhash_banded_containment_oracle(MINHASH_SEEDS, 4, 0.6),
)
def q_dedup_containment_banded(spark, sf_dir):
    # The SCALE path for dedup_containment (round 11): the exact
    # co-shingle candidate join is quadratic on template corpora (Σ df²
    # join volume — 55× at the 10× synth), so this variant takes its
    # candidates from the 8-seed/4-band MinHash bucket join (num_bands
    # shuffle keys per doc, df-skew-immune) and verifies containment
    # exactly on the surviving pairs.  Precision 1; recall = the band
    # stage's, which is Jaccard-biased (a tiny doc inside a huge one has
    # high containment but low Jaccard — LSH-Ensemble size classes are
    # the known refinement, documented in the operator).  The oracle
    # recomputes the identical banded pipeline.
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    from pulsar_ingestion_spark.operators.dedup import minhash_banded_containment

    return minhash_banded_containment(
        docs, n=3, num_bands=4, threshold=0.6, hash="md5"
    )


# Independent 12-seed family for dedup_minhash (distinct from the 8-seed
# MINHASH_SEEDS used by dedup_minhash_banded — a separate LSH layout, not
# a re-labelled copy).
_MINHASH12_SEEDS = [f"t{i}" for i in range(12)]


@query("dedup_minhash", oracle=_minhash_banded_oracle(_MINHASH12_SEEDS, 6, 0.5))
def q_dedup_minhash(spark, sf_dir):
    # Portable banded MinHash at threshold 0.5 — 12 md5 minhash seeds →
    # 6 bands of 2 (≥1-band collision ≈ 0.82 recall at s=0.5; every
    # emitted pair is exact-Jaccard verified so precision is 1).  This id
    # was the MLlib MinHashLSH until round 11: engine-internal hash
    # families made it rows-only forever (VERDICT r10 item 1a), so it now
    # runs the portable permutation-hash pipeline whose DuckDB oracle
    # recomputes the identical signatures.  Scale shape unchanged: band
    # equi-join IS the candidate filter, never all-pairs.
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    return minhash_banded_pairs(
        docs, n=3, num_bands=6, threshold=0.5, hash="md5", seeds=_MINHASH12_SEEDS
    )


def _simhash_oracle(bits: int = 32, max_hamming: int = 6) -> str:
    """DuckDB recomputation of the portable md5-nibble simhash + pigeonhole
    band join (mirrors operators/dedup.py simhash(portable=True) /
    simhash_near_dups exactly — same nibble bit unpack, same band widths)."""
    nbands = max_hamming + 1
    base, rem = divmod(bits, nbands)
    band_selects, off = [], 0
    for i in range(nbands):
        width = base + (1 if i < rem else 0)
        band_selects.append(
            f"SELECT doc_id, simhash, {i} AS band, "
            f"(simhash >> {off}) & {(1 << width) - 1} AS bval FROM sigs"
        )
        off += width
    bands = " UNION ALL ".join(band_selects)
    return f"""
    WITH wd AS (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ), hs AS (
      SELECT doc_id, len(w) AS nw, list_transform(w, x -> md5(x)) AS h FROM wd
    ), sigs AS (
      SELECT doc_id,
             SUM(CASE WHEN 2 * len(list_filter(h, s ->
                   ((instr('0123456789abcdef', substr(s, (k // 4) + 1, 1)) - 1)
                    >> (k % 4)) & 1 = 1)) > nw
                 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS simhash
      FROM hs, unnest(range({bits})) AS t(k)
      GROUP BY doc_id
    ), bands AS ({bands})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@query("dedup_simhash", oracle=_simhash_oracle(bits=32, max_hamming=3))
def q_dedup_simhash(spark, sf_dir):
    # Portable md5-nibble 32-bit simhash (one md5 per word, bits unpacked
    # from the hex string) → the banded near-dup join is oracle-checkable;
    # the xxhash64/64-bit engine path stays the default in the operator.
    # hamming ≤ 3 of 32 bits ≈ the old ≤ 6 of 64 selectivity; 4 bands of
    # 8 bits keep the band-collision false-positive rate low.
    return simhash_near_dups(
        load_tables(spark, sf_dir)["documents"], max_hamming=3, bits=32, portable=True
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(
             list_reduce(list_prepend(0.0, list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x+y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(a.embedding)+1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))), (x,y) -> x+y))
              * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(b.embedding)+1),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x+y))),
           6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(
             list_reduce(list_prepend(0.0, list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x+y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(a.embedding)+1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))), (x,y) -> x+y))
              * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(b.embedding)+1),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x+y))),
           6) >= 0.4
    """,
)
def q_dedup_embedding_cosine(spark, sf_dir):
    # Exact all-pairs baseline — recall fixture for the bucketed paths;
    # NOT the scale path (dedup_embedding_blas is the benched near-dup op).
    return embedding_near_dups(fan_out(load_tables(spark, sf_dir)["embeddings"], spark), threshold=0.4)


_KNN_DOT = """list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),
  i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x,y) -> x+y)"""


def _plane_literal(dim: int, plane_idx: int, seed: int) -> str:
    """The deterministic md5 hyperplane as a DuckDB list literal — repr()
    round-trips doubles exactly, so the oracle folds the SAME constants the
    Spark side embeds via F.lit (operators/similarity.py _hyperplane)."""
    from pulsar_ingestion_spark.operators.similarity import _hyperplane

    return "[" + ", ".join(repr(v) for v in _hyperplane(dim, plane_idx, seed)) + "]"


_PLANE_DOT = """list_reduce(list_prepend(0.0, list_transform(range(1, {dim}+1),
  i -> CAST({vec}[i] AS DOUBLE) * {pvec}[i])), (x,y) -> x+y)"""


def _signlsh_bucket_cte(
    dim: int, num_planes: int, seeds: list[int], planes_filter: str | None = None
) -> str:
    """CTEs `planes(tbl, p, pvec)` + `buckets(vec_id, embedding, tbl,
    bucket)` — the DuckDB recomputation of signlsh_buckets for one LSH
    table per seed (bucket = Σ (v·h_p > 0) << p, same left fold).

    ``planes_filter``: optional scalar-subquery SQL expression bounding
    the ACTIVE plane count at query time (``pl.p < (expr)``) — the
    enumerated ``num_planes`` then acts as the literal pool the filter
    selects from (auto-scaling oracles, ADVICE r7)."""
    rows = []
    for t, seed in enumerate(seeds):
        for p in range(num_planes):
            rows.append(f"({t}, {p}, {_plane_literal(dim, p, seed)})")
    dot = _PLANE_DOT.format(dim=dim, vec="e.embedding", pvec="pl.pvec")
    where = f"WHERE pl.p < ({planes_filter})" if planes_filter else ""
    return f"""
    planes(tbl, p, pvec) AS (FROM (VALUES {", ".join(rows)}) v(tbl, p, pvec)),
    buckets AS (
      SELECT e.vec_id, e.embedding, pl.tbl,
             SUM(CASE WHEN {dot} > 0 THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN planes pl {where}
      GROUP BY e.vec_id, e.embedding, pl.tbl
    )"""


def _blas_oracle(
    dim: int,
    num_planes: int | None,
    num_tables: int,
    seed: int,
    threshold: float,
    target_block: int = 512,
    lo: int = 3,
    max_planes: int = 8,
) -> str:
    """``num_planes=None`` → AUTO mode (ADVICE r7): the oracle derives
    its active plane count from COUNT(*) with the SAME formula as
    operators.similarity.auto_num_planes (identical IEEE double ops:
    ceil(log2(n / target)) clamped to [lo, max_planes]), so a
    fixture-size bump past the lo-clamp region changes both sides' LSH
    blocking in lockstep instead of silently diverging.  ``max_planes``
    bounds BOTH the enumerated hyperplane-literal pool AND the clamp —
    the Spark call site passes ``hi=max_planes`` too (ADVICE r9: a
    one-sided 20-clamp would silently diverge past
    target_block·2^max_planes ≈ 131k vectors; test SFs carry ≤ 2k)."""
    cos = f"""round({_KNN_DOT.format(a='x.embedding', b='y.embedding')}
      / (sqrt({_KNN_DOT.format(a='x.embedding', b='x.embedding')})
       * sqrt({_KNN_DOT.format(a='y.embedding', b='y.embedding')})), 6)"""
    seeds = [seed + 7919 * t for t in range(num_tables)]
    if num_planes is None:
        planes_filter = (
            f"SELECT CASE WHEN count(*) <= {target_block} THEN {lo} "
            f"ELSE GREATEST({lo}, LEAST({max_planes}, CAST(ceil(log2(count(*) / {target_block}.0)) AS BIGINT))) END "
            f"FROM embeddings"
        )
        cte = _signlsh_bucket_cte(dim, max_planes, seeds, planes_filter=planes_filter)
    else:
        cte = _signlsh_bucket_cte(dim, num_planes, seeds)
    return f"""
    WITH {cte},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, {cos} AS cos_sim
    FROM cand JOIN embeddings x ON x.vec_id = id_a
              JOIN embeddings y ON y.vec_id = id_b
    WHERE {cos} >= {threshold}
    """


@query("dedup_embedding_blas", oracle=_blas_oracle(64, None, 8, 42, 0.4))
def q_dedup_embedding_blas(spark, sf_dir):
    # The 100 TB near-dup plan: sign-LSH blocks × per-block numpy matmul
    # (applyInPandas) — no collect, no all-pairs join.  The plane count
    # AUTO-SCALES with the corpus (auto_num_planes: 2^planes ≈ n/512 at
    # this 64-dim fixture; the 4096 default is sized for ~1K-dim vectors)
    # so the per-block matmul work n²/2^planes stays ~linear in n instead
    # of quadratic at a fixed plane count (VERDICT r6 item 3).  At every
    # bounded test SF (500 / 500 / 2000 vectors) the formula yields the
    # lo-clamp 3, identical to the static oracle's 3 planes / 8 tables
    # (~0.9 expected recall at cos 0.4, the fixture's pair range); at the
    # 10x scale point (20k vectors) it yields 6 — measured 3.7x faster
    # than planes=3 there (SCALE.md).  Recall at a production near-dup
    # threshold of 0.95 stays 0.998 at 6 planes by the 1-(1-p^P)^T
    # formula; the fixture's 0.4 is deliberately loose.  exact_rescore
    # folds surviving pairs' cosine JVM-side so the output hash-matches
    # the DuckDB same-bucket oracle (VERDICT r2 item 2).
    from pulsar_ingestion_spark.operators.dedup import embedding_near_dups_blas
    from pulsar_ingestion_spark.operators.similarity import auto_num_planes

    emb = load_tables(spark, sf_dir)["embeddings"]
    # one metadata-cheap footer-stats count per invocation, consumed only
    # by the plane-count formula (at cluster scale this would come from
    # table statistics).  VERDICT r13 item 4: the former per-dir memo dict
    # survived clearCache() and shaved this job off bench repeat-runs —
    # the memoised-result pattern; every invocation now computes it.
    n = emb.count()
    return embedding_near_dups_blas(
        emb,
        threshold=0.4,
        # hi matches the oracle's max_planes literal pool (ADVICE r9)
        num_planes=auto_num_planes(n, target_block=512, lo=3, hi=8),
        num_tables=8,
        exact_rescore=True,
    )


_KNN_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round({_KNN_DOT.format(a='q.embedding', b='c.embedding')}
           / (sqrt({_KNN_DOT.format(a='q.embedding', b='q.embedding')})
            * sqrt({_KNN_DOT.format(a='c.embedding', b='c.embedding')})), 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("sim_search_knn", oracle=_KNN_ORACLE)
def q_sim_search_knn(spark, sf_dir):
    emb = fan_out(load_tables(spark, sf_dir)["embeddings"], spark)
    return knn_bruteforce(emb.filter(F.col("vec_id") < 20), emb, k=5)


def _lsh_oracle(
    dim: int,
    num_planes: int | None,
    seed: int,
    k: int,
    target_block: int = 512,
    lo: int = 6,
    max_planes: int = 12,
) -> str:
    """``num_planes=None`` → AUTO mode (same contract as ``_blas_oracle``):
    the active plane count is derived from COUNT(*) with the identical
    ``auto_num_planes`` formula, so the bucket granularity scales with the
    fixture on both engines in lockstep.  ``max_planes=12`` bounds the
    literal pool at target_block·2^12 ≈ 2M vectors AND clamps the SQL
    formula; the Spark call site passes ``hi=12`` so neither side can
    outgrow the pool silently (ADVICE r9)."""
    cos = f"""round({_KNN_DOT.format(a='q.embedding', b='c.embedding')}
      / (sqrt({_KNN_DOT.format(a='q.embedding', b='q.embedding')})
       * sqrt({_KNN_DOT.format(a='c.embedding', b='c.embedding')})), 6)"""
    if num_planes is None:
        planes_filter = (
            f"SELECT CASE WHEN count(*) <= {target_block} THEN {lo} "
            f"ELSE GREATEST({lo}, LEAST({max_planes}, CAST(ceil(log2(count(*) / {target_block}.0)) AS BIGINT))) END "
            f"FROM embeddings"
        )
        cte = _signlsh_bucket_cte(dim, max_planes, [seed], planes_filter=planes_filter)
    else:
        cte = _signlsh_bucket_cte(dim, num_planes, [seed])
    return f"""
    WITH {cte},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {cos} AS cos_sim
      FROM buckets q JOIN buckets c
        ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 20
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("sim_search_lsh", oracle=_lsh_oracle(64, None, 42, 5))
def q_sim_search_lsh(spark, sf_dir):
    # Recall<1 ANN by design — but the md5-derived hyperplanes are
    # engine-portable constants, so bucket membership AND the in-bucket
    # rerank are recomputable in DuckDB (VERDICT r2 item 2).
    # The plane count AUTO-SCALES with the corpus (auto_num_planes,
    # target_block=512, lo=6 — identical at every test SF to the old
    # pinned 6, so the measured recall story is unchanged there), and the
    # oracle derives the SAME count from COUNT(*) (the _blas_oracle
    # pattern).  This closes the SCALE.md §6m note: with planes pinned at
    # 6, per-query candidates grow ∝ n/2^6 by construction (0.29/100×
    # measured); auto planes hold the expected bucket at ~target_block so
    # candidate work stays ~linear in n — the production path at scale.
    from pulsar_ingestion_spark.operators.similarity import auto_num_planes

    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.count()  # per-invocation footer-stats count (VERDICT r13 item 4)
    return knn_lsh(
        emb.filter(F.col("vec_id") < 20),
        emb,
        dim=64,
        k=5,
        # hi matches the oracle's max_planes literal pool (ADVICE r9)
        num_planes=auto_num_planes(n, target_block=512, lo=6, hi=12),
    )


def _lsh_multiprobe_oracle(
    dim: int,
    num_planes: int | None,
    seed: int,
    k: int,
    target_block: int = 512,
    lo: int = 6,
    max_planes: int = 12,
) -> str:
    """``num_planes=None`` → AUTO mode (same contract as ``_lsh_oracle``):
    the active plane count — which here also sets the PROBE count
    (num_planes Hamming-1 flips + the home bucket) — derives from
    COUNT(*) with the ``auto_num_planes`` formula on both engines."""
    cos = f"""round({_KNN_DOT.format(a='p.qv', b='c.embedding')}
      / (sqrt({_KNN_DOT.format(a='p.qv', b='p.qv')})
       * sqrt({_KNN_DOT.format(a='c.embedding', b='c.embedding')})), 6)"""
    if num_planes is None:
        np_sql = (
            f"(SELECT CASE WHEN count(*) <= {target_block} THEN {lo} "
            f"ELSE GREATEST({lo}, LEAST({max_planes}, CAST(ceil(log2(count(*) / {target_block}.0)) AS BIGINT))) END "
            f"FROM embeddings)"
        )
        cte = _signlsh_bucket_cte(dim, max_planes, [seed], planes_filter=np_sql[1:-1])
    else:
        np_sql = str(num_planes)
        cte = _signlsh_bucket_cte(dim, num_planes, [seed])
    return f"""
    WITH {cte},
    probes AS (
      SELECT q.vec_id AS qid, q.embedding AS qv,
             CASE WHEN t.i = {np_sql} THEN q.bucket
                  ELSE xor(q.bucket, (CAST(1 AS BIGINT) << t.i)) END AS bucket
      FROM buckets q, unnest(range({np_sql} + 1)) AS t(i)
      WHERE q.vec_id < 20
    ),
    scored AS (
      SELECT p.qid AS query_id, c.vec_id AS cand_id, {cos} AS cos_sim
      FROM probes p JOIN buckets c
        ON p.bucket = c.bucket AND p.qid <> c.vec_id
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("sim_search_lsh_multiprobe", oracle=_lsh_multiprobe_oracle(64, None, 42, 5))
def q_sim_search_lsh_multiprobe(spark, sf_dir):
    # Hamming-1 multiprobe over the sign-LSH signature: the standard
    # recall boost at probe-count (not table-count) cost; candidates stay
    # bucketed once.  Fully oracle-recomputable like sim_search_lsh, and
    # like it the plane count AUTO-SCALES (auto_num_planes, lo=6 — the
    # old pinned 6 at every test SF) with the oracle deriving the same
    # count; more planes at scale = tighter buckets AND proportionally
    # more Hamming-1 probes, the standard multiprobe trade.
    from pulsar_ingestion_spark.operators.similarity import auto_num_planes, knn_lsh_multiprobe

    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.count()  # per-invocation footer-stats count (VERDICT r13 item 4)
    return knn_lsh_multiprobe(
        emb.filter(F.col("vec_id") < 20),
        emb,
        dim=64,
        k=5,
        # hi matches the oracle's max_planes literal pool (ADVICE r9)
        num_planes=auto_num_planes(n, target_block=512, lo=6, hi=12),
    )


_REPETITION_ORACLE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
), ex AS (
  SELECT doc_id, len(ws) AS n_words, unnest(ws) AS word FROM w
), wc AS (
  SELECT doc_id, n_words, word, count(*) AS cnt
  FROM ex GROUP BY doc_id, n_words, word
), pd AS (
  SELECT doc_id, n_words, max(cnt) AS top_cnt, count(*) AS n_distinct
  FROM wc GROUP BY doc_id, n_words
)
SELECT doc_id, n_words,
       round(top_cnt / n_words, 6) AS top_word_frac,
       round(1.0 - n_distinct / n_words, 6) AS dup_word_frac
FROM pd
"""


@query("text_repetition_ratios", oracle=_REPETITION_ORACLE)
def q_text_repetition_ratios(spark, sf_dir):
    # Gopher-style repetition signals (cf. Rae et al. 2021 §A1.1): the
    # most-frequent-word fraction and the duplicate-word fraction — the
    # filters that catch boilerplate/keyword-stuffed documents.
    # Scale shape: explode → (doc_id, word) partial-agg shuffle →
    # per-doc agg — never an O(len²) in-array count; both groupBys are
    # map-side combinable.
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    w = F.split(F.trim(F.lower("text")), r"\s+")
    ex = docs.select("doc_id", F.size(w).alias("n_words"), F.explode(w).alias("word"))
    wc = ex.groupBy("doc_id", "n_words", "word").agg(F.count(F.lit(1)).alias("cnt"))
    pd = wc.groupBy("doc_id", "n_words").agg(
        F.max("cnt").alias("top_cnt"), F.count(F.lit(1)).alias("n_distinct")
    )
    return pd.select(
        "doc_id",
        "n_words",
        F.round(F.col("top_cnt") / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).alias("dup_word_frac"),
    )


def _ivf_seeded_oracle(n_cells: int, nprobe: int, k: int) -> str:
    d2 = """list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),
      i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
         * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (x,y) -> x+y)"""
    cos = f"""round({_KNN_DOT.format(a='p.qv', b='a.vec')}
      / (sqrt({_KNN_DOT.format(a='p.qv', b='p.qv')})
       * sqrt({_KNN_DOT.format(a='a.vec', b='a.vec')})), 6)"""
    return f"""
    WITH cents AS (
      SELECT vec_id AS cell, embedding AS cvec FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_cells}
    ), assigned AS (
      SELECT vec_id, vec, cell FROM (
        SELECT e.vec_id, e.embedding AS vec, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2.format(a='e.embedding', b='c.cvec')}, c.cell) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS qid, qv, cell FROM (
        SELECT e.vec_id, e.embedding AS qv, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2.format(a='e.embedding', b='c.cvec')}, c.cell) AS rn
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id < 20
      ) WHERE rn <= {nprobe}
    ), scored AS (
      SELECT p.qid AS query_id, a.vec_id AS cand_id, {cos} AS cos_sim
      FROM probes p JOIN assigned a ON p.cell = a.cell AND p.qid <> a.vec_id
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("sim_search_ivf", oracle=_ivf_seeded_oracle(16, 3, 5))
def q_sim_search_ivf(spark, sf_dir):
    # IVF with the engine-portable seeded coarse quantizer (md5-ordered
    # centroid subsample) — cell assignment, probing, and rerank are all
    # DuckDB-recomputable.
    from pulsar_ingestion_spark.operators.similarity import knn_ivf_seeded

    emb = fan_out(load_tables(spark, sf_dir)["embeddings"], spark)
    return knn_ivf_seeded(emb.filter(F.col("vec_id") < 20), emb, k=5, n_cells=16, nprobe=3)


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@query(
    "text_stats",
    oracle=f"""
    SELECT lang,
           count(*) AS doc_cnt,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) AS total_chars,
           CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DECIMAL(18,4))) AS DOUBLE)
             / count(*) AS avg_words,
           round(CAST(SUM(CAST(round(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                w -> list_contains({_STOP_SQL}, w)))
                / len(regexp_split_to_array(trim(text), '\\s+')), 6) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS avg_stopword_ratio
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    swr = F.round(stopword_ratio(F.col("text")), 6)
    return docs.groupBy("lang").agg(
        F.count("*").alias("doc_cnt"),
        F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double").alias("total_chars"),
        (F.sum(word_count(F.col("text")).cast("decimal(18,4)")).cast("double") / F.count("*")).alias(
            "avg_words"
        ),
        F.round(
            F.sum(swr.cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_stopword_ratio"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS wc,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                 w -> list_contains({_STOP_SQL}, w)))
               * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) AS swr,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> CAST(length(w) AS BIGINT))),
               (x,y) -> x+y) * 1.0
               / len(regexp_split_to_array(trim(text), '\\s+')) AS awl
      FROM documents
    )
    SELECT doc_id,
           round(((CASE WHEN wc BETWEEN 20 AND 1000 THEN 1.0 WHEN wc >= 5 THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN swr > 0.05 THEN 1.0 ELSE 0.5 END)
                + (CASE WHEN awl BETWEEN 2.5 AND 10 THEN 1.0 ELSE 0.5 END)) / 3.0, 4) AS quality
    FROM feat
    """,
)
def q_text_quality_score(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


@query(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tokens,
           len(regexp_split_to_array(trim(text), '\s+')) AS words,
           round(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                 * 1.0 / len(regexp_split_to_array(trim(text), '\s+')), 4) AS tokens_per_word
    FROM documents
    """,
)
def q_text_token_count(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    toks = token_count(F.col("text"))
    wc = word_count(F.col("text"))
    return docs.select(
        "doc_id",
        toks.alias("tokens"),
        wc.alias("words"),
        F.round(toks * 1.0 / wc, 4).alias("tokens_per_word"),
    )


def _multimodal_features_oracle() -> str:
    # Synthetic payload = 'SYNM' + u16 w + u16 h + utf8(sha256 hex of the
    # id) = 72 bytes; every byte-level feature is recomputable in SQL.
    # Entropy terms come from the SAME Python function the Arrow UDF
    # calls (inlined as a 72-entry literal table) — no engine libm.
    from pulsar_ingestion_spark.operators.multimodal import entropy_term_e6

    n = 72
    terms = ",".join(str(entropy_term_e6(c, n)) for c in range(1, n + 1))
    return f"""
    WITH p AS (
      SELECT doc_id,
        ('SYNM'::BLOB
         || unhex(lpad(hex(doc_id % 64 + 16), 4, '0'))
         || unhex(lpad(hex(doc_id % 48 + 16), 4, '0'))
         || encode(sha256(CAST(doc_id AS VARCHAR)))) AS payload
      FROM documents
    ),
    b AS (
      SELECT doc_id, unnest(regexp_extract_all(hex(payload), '..')) AS byte
      FROM p
    ),
    c AS (SELECT doc_id, byte, count(*) AS c FROM b GROUP BY doc_id, byte),
    e AS (
      SELECT doc_id,
             CAST(count(*) AS INTEGER) AS distinct_bytes,
             SUM(list_value({terms})[c]) AS e6
      FROM c GROUP BY doc_id
    )
    SELECT p.doc_id AS media_id,
           CAST(p.doc_id % 64 + 16 AS INTEGER) AS decoded_width,
           CAST(p.doc_id % 48 + 16 AS INTEGER) AS decoded_height,
           CAST(octet_length(p.payload) AS BIGINT) AS byte_len,
           sha256(hex(p.payload)) AS content_sha,
           'image/synthetic' AS mime_detected,
           e.distinct_bytes,
           e.e6 / 1e6 AS entropy_bits
    FROM p JOIN e USING (doc_id)
    """


@query("multimodal_features", oracle=_multimodal_features_oracle())
def q_multimodal_features(spark, sf_dir):
    # Decoded dims go through the stub codec (env-gated: real decoders
    # slot in at _decode_image); the byte-level features (hash, mime
    # magic, distinct bytes, fixed-point entropy) are codec-free and
    # oracle-checked — VERDICT r9 item 5.
    from pulsar_ingestion_spark.operators.multimodal import extract_features, synthesize_media

    docs = load_tables(spark, sf_dir)["documents"]
    media = synthesize_media(docs.select("doc_id"))
    return extract_features(media)


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(doc_id % 64 + 16 AS INTEGER) AS width,
           CAST(doc_id % 48 + 16 AS INTEGER) AS height,
           CAST(ceil((doc_id % 64 + 16) *
                least(32.0 / (doc_id % 64 + 16), 32.0 / (doc_id % 48 + 16), 1.0)) AS INTEGER)
             AS target_width,
           CAST(ceil((doc_id % 48 + 16) *
                least(32.0 / (doc_id % 64 + 16), 32.0 / (doc_id % 48 + 16), 1.0)) AS INTEGER)
             AS target_height
    FROM documents
    """,
)
def q_multimodal_resize(spark, sf_dir):
    # Metadata-only media op — the binary payload column must be pruned
    # from the scan (no decode, no bytes moved).
    from pulsar_ingestion_spark.operators.multimodal import resize_spec, synthesize_media

    docs = load_tables(spark, sf_dir)["documents"]
    return resize_spec(synthesize_media(docs.select("doc_id")), max_dim=32)


_CHUNK_ORACLE = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
  FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(greatest(len(words) - 10, 1) / 40.0) AS BIGINT))) AS chunk_idx,
         words
  FROM w
)
SELECT doc_id,
       chunk_idx,
       array_to_string(words[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ') AS chunk_text,
       least(len(words) - chunk_idx * 40, 50) AS chunk_words
FROM chunks
"""


@query("text_chunk_documents", oracle=_CHUNK_ORACLE)
def text_chunk_documents(spark, sf_dir):
    # LLM-corpus chunking: 50-word windows, stride 40 (10-word overlap).
    # sequence → transform(slice) → posexplode keeps it all JVM-side; at
    # 100 TB this is a narrow map (no shuffle), output ~1.25x input words.
    d = load_tables(spark, sf_dir)["documents"]
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.greatest(F.size(words) - 10, F.lit(1)) / 40.0).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return (
        d.select("doc_id", words.alias("w"), F.explode(idx).alias("chunk_idx"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.array_join(F.slice("w", F.col("chunk_idx") * 40 + 1, 50), " ").alias("chunk_text"),
            F.least(F.size("w") - F.col("chunk_idx") * 40, F.lit(50)).cast("bigint").alias("chunk_words"),
        )
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    w -> list_contains({_STOP_SQL}, w)))
                    * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) > 0.08
                THEN 'en' ELSE 'other' END AS guessed_lang
    FROM documents
    """,
)
def q_text_lang_id(spark, sf_dir):
    # Heuristic language ID: English-stopword density.  (Real n-gram models
    # would be a broadcast dictionary + the same expression shape.)
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(stopword_ratio(F.col("text")) > 0.08, "en").otherwise("other").alias("guessed_lang"),
    )


_DECONTAM_ORACLE = r"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 7 + 1),
           i -> array_to_string(w[i:i+7], ' '))) AS grams
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        FROM documents)
  WHERE len(w) >= 8
), ev AS (
  SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 97 = 0
), tr AS (
  SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id % 97 <> 0
)
SELECT tr.doc_id, count(*) AS matched_ngrams
FROM tr JOIN ev USING (g)
GROUP BY tr.doc_id
"""


@query("text_decontaminate", oracle=_DECONTAM_ORACLE)
def q_text_decontaminate(spark, sf_dir):
    # Benchmark decontamination — the standard pre-training hygiene pass:
    # flag training docs sharing any 8-word gram with the (small) eval set.
    # Plan: eval grams DISTINCT + broadcast; training grams stream through
    # a broadcast hash join — at 100 TB the training side never shuffles
    # (eval sets are KBs-MBs).  Here grams join as strings for oracle
    # parity; at scale the join key is xxhash64(gram) (8-byte keys).
    from pulsar_ingestion_spark.functions.text import shingles, word_count

    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    docs8 = docs.filter(word_count(F.col("text")) >= 8)
    ev = (
        docs8.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(shingles(F.col("text"), 8)).alias("g"))
        .distinct()
    )
    tr = docs8.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.explode(shingles(F.col("text"), 8)).alias("g")
    )
    return tr.join(F.broadcast(ev), "g").groupBy("doc_id").agg(
        F.count("*").alias("matched_ngrams")
    )


_MINHASH_SEEDS = MINHASH_SEEDS  # canonical list lives in operators.dedup

_MINHASH_SIG_ORACLE = r"""
SELECT doc_id,
       {cols}
FROM (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents)
""".format(cols=",\n       ".join(
    f"list_aggregate(list_transform(w, x -> md5(concat('{s}:', x))), 'min') AS sig_{i}"
    for i, s in enumerate(_MINHASH_SEEDS)
))


@query("text_minhash_signature", oracle=_MINHASH_SIG_ORACLE)
def q_text_minhash_signature(spark, sf_dir):
    # Engine-portable MinHash: per-seed signature = min over the word set
    # of md5(seed || word).  Unlike MLlib's MinHashLSH (engine-internal
    # hash families -> rows-only), md5 is identical across engines, so the
    # full signature matrix is oracle-HASH-checked.  Narrow map, no
    # shuffle; banding these signatures gives the LSH bucket keys.
    from pulsar_ingestion_spark.functions.text import words

    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    w = F.array_distinct(words(F.lower(F.col("text"))))

    # NB: a `lambda x, s=s:` default would be introspected by PySpark as a
    # TWO-arg (element, index) lambda — the seed silently becomes the index
    # column.  A closure factory keeps the arity at one.
    def _hasher(seed: str):
        return lambda x: F.md5(F.concat(F.lit(f"{seed}:"), x))

    cols = [
        F.array_min(F.transform(w, _hasher(s))).alias(f"sig_{i}")
        for i, s in enumerate(_MINHASH_SEEDS)
    ]
    return docs.select("doc_id", *cols)


_MINHASH_BANDED_ORACLE = _minhash_banded_oracle(_MINHASH_SEEDS, 4, 0.35)


@query("dedup_minhash_banded", oracle=_MINHASH_BANDED_ORACLE)
def q_dedup_minhash_banded(spark, sf_dir):
    # END-TO-END oracle-checked MinHash LSH (the portable sibling of the
    # MLlib dedup_minhash): 8 md5 minhash signatures over 3-gram SHINGLES
    # (word sets are too coarse on near-template corpora) -> 4 bands of
    # 2 -> candidates share >= 1 band -> exact shingle-Jaccard verify
    # (0.35; recall < 1 at the band stage by LSH design, the oracle
    # recomputes the identical pipeline).  Scale shape identical to the
    # MLlib path: the band equi-join IS the candidate filter (4 shuffle
    # keys per doc), the verify joins touch only surviving pairs — never
    # all-pairs.  The pipeline lives in operators.dedup.minhash_banded_
    # pairs (round 8), which evaluates the signatures via explode +
    # codegen'd min-aggregates instead of interpreted per-element HOF
    # lambdas — identical md5 values, ~6x less signature wall at the
    # 10x scale point — and materializes them once so the band
    # posexplode and the verify joins never recompute them.
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    return minhash_banded_pairs(docs, n=3, num_bands=4, threshold=0.35, hash="md5")


@query("dedup_minhash_fast", oracle=_minhash_km_oracle(8, 4, 0.35))
def q_dedup_minhash_fast(spark, sf_dir):
    # The FAST form of dedup_minhash_banded (VERDICT r7 item 4): identical
    # plan shape (8 minhashes → 4 bands → band equi-join → exact
    # shingle-Jaccard ≥ 0.35 verify) but the signature family is portable
    # Kirsch-Mitzenmacher (hash="km_md5"): sig_i = min(h1 + i·h2) from TWO
    # 27-bit md5 lanes per shingle instead of 8 full md5 digests — 4× less
    # digest CPU (the banded pipeline's dominant term at scale, SCALE.md
    # §6f), long-typed signatures, and 8-byte band shuffle keys
    # ((sig<<31)+sig fold) instead of 128-char hex concats.  Until round
    # 11 this id used engine-side xxhash64 (rows-only forever — DuckDB
    # can't recompute it, VERDICT r10 item 1b); the km_md5 family keeps
    # the fast-signature design AND a recomputing DuckDB oracle.  Every
    # emitted pair is exact-verified (precision 1; only LSH recall is
    # hash-family-dependent).
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    return minhash_banded_pairs(
        docs, n=3, num_bands=4, threshold=0.35, hash="km_md5"
    )


_UNIGRAM_LOGPROB_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
), wc AS (
  SELECT word, count(*) AS cnt FROM tok GROUP BY word
), tot AS (
  SELECT count(*) AS n FROM tok
), scored AS (
  SELECT t.doc_id, round(-log2(wc.cnt / tot.n), 6) AS neg_log2p
  FROM tok t JOIN wc ON t.word = wc.word, tot
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(SUM(CAST(neg_log2p AS DECIMAL(18,6))) AS DOUBLE) AS total_neg_log2p
FROM scored GROUP BY doc_id
"""


@query("text_unigram_logprob", oracle=_UNIGRAM_LOGPROB_ORACLE)
def q_text_unigram_logprob(spark, sf_dir):
    # Unigram cross-entropy proxy (the cheap perplexity stand-in for
    # quality scoring): per-token -log2 p(word) under the corpus unigram
    # distribution, totalled per doc — high/n_tokens = rare-word docs.
    # Per-token terms are rounded to 6 then DECIMAL-summed; the output is
    # the exact decimal total (parity rule: never round a raw double
    # quotient — engine half-up vs binary rounding diverge at half-way
    # points).  Scale: explode -> word-count shuffle -> join back (the
    # word table is vocabulary-sized; broadcast when it fits) -> per-doc
    # agg.
    from pulsar_ingestion_spark.functions.text import words

    # r5 perf shape: collapse the token stream ONCE to (doc, word, tf) —
    # every later stage is bounded by distinct pairs, not raw tokens.
    # wc and the corpus total both derive from that relation, and the
    # per-doc total becomes Σ tf·round6(term) (each occurrence of a word
    # contributes the identical rounded value, so the decimal sum equals
    # the oracle's per-token sum exactly).
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    tfd = (
        docs.select("doc_id", F.explode(words(F.lower(F.col("text")))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wc = tfd.groupBy("word").agg(F.sum("tf").alias("cnt"))
    tot = wc.agg(F.sum("cnt").alias("n"))
    scored = (
        tfd.join(wc, "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "tf",
            F.round(-F.log2(F.col("cnt") / F.col("n")), 6).alias("neg_log2p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("neg_log2p").cast("decimal(18,6)"))
        .cast("double").alias("total_neg_log2p"),
    )


_CENTROID_ORACLE = """
SELECT label,
       CAST(i - 1 AS INTEGER) AS pos,
       round(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
             / count(*), 6) AS centroid_val
FROM embeddings, range(1, 65) r(i)
GROUP BY label, i
"""


@query("emb_centroid_by_label", oracle=_CENTROID_ORACLE)
def q_emb_centroid_by_label(spark, sf_dir):
    # Per-class embedding centroid (exploded form): posexplode -> one
    # partial-agg shuffle on (label, pos) — the classwise mean every
    # clustering/IVF/probing step needs.  Decimal-accumulated sums keep
    # the mean identical across engines (registry parity rules).
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "e"))
    return ex.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("e").cast("double").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("centroid_val")
    )


_QUANT_ORACLE = """
SELECT vec_id,
       round(127.0 / list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'), 6)
         AS scale,
       coalesce(array_to_string(list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE)
              * round(127.0 / list_aggregate(list_transform(embedding, x2 -> abs(CAST(x2 AS DOUBLE))), 'max'), 6))
              AS INTEGER)), ','), '') AS q8
FROM embeddings
"""


@query("emb_quantize_int8", oracle=_QUANT_ORACLE)
def q_emb_quantize_int8(spark, sf_dir):
    # Symmetric int8 quantization (the storage/ANN compression step):
    # per-vector scale = 127/max|x| (rounded so both engines use the SAME
    # scale), q = floor(x*scale) — floor, not round, to avoid cross-engine
    # half-way rounding divergence.  Pure array expressions, narrow map.
    # q8 serialized to a CSV string: the driver hash cannot digest
    # array-typed columns (registry parity rule / VERDICT r2 item 1).
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    xd = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    scale = F.round(F.lit(127.0) / F.array_max(xd), 6)
    q8 = F.transform("embedding", lambda x: F.floor(x.cast("double") * scale).cast("int"))
    return emb.select(
        "vec_id",
        scale.alias("scale"),
        F.array_join(q8.cast("array<string>"), ",").alias("q8"),
    )


_CLUSTER_ORACLE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS grams
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        FROM documents)
  WHERE len(w) >= 3
), ex AS (
  SELECT id, len(grams) AS sz, unnest(grams) AS gram FROM sh
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sz AS size_a, b.sz AS size_b,
         count(*) AS inter_cnt
  FROM ex a JOIN ex b ON a.gram = b.gram AND a.id < b.id
  GROUP BY a.id, b.id, a.sz, b.sz
), pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE inter_cnt / (size_a + size_b - inter_cnt) >= 0.35
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT d.doc_id AS id,
       least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
GROUP BY d.doc_id
"""


@query("dedup_cluster_components", oracle=_CLUSTER_ORACLE)
def q_dedup_cluster_components(spark, sf_dir):
    # Corpus-dedup clustering: 3-gram Jaccard pairs (threshold 0.35) ->
    # connected components by iterative min-label propagation (the Spark
    # CC idiom); the DuckDB oracle computes the same fixpoint via a
    # recursive transitive-closure CTE — an iterative distributed
    # algorithm hash-checked against a declarative one.
    from pulsar_ingestion_spark.operators.dedup import near_dup_clusters

    docs = load_tables(spark, sf_dir)["documents"]
    docs3 = fan_out(docs.filter(F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 3), spark)
    pairs = ngram_jaccard_pairs(docs3, threshold=0.35, n=3).select("id_a", "id_b")
    return near_dup_clusters(pairs, docs)


_CURATE_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, lang, text, md5(text) AS h,
         len(regexp_split_to_array(trim(text), '\\s+')) AS wc,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
             w -> list_contains({_STOP_SQL}, w)))
           * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) AS swr,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(regexp_split_to_array(trim(text), '\\s+'),
                          w -> CAST(length(w) AS BIGINT))),
           (x,y) -> x+y) * 1.0
           / len(regexp_split_to_array(trim(text), '\\s+')) AS awl
  FROM documents
), scored AS (
  SELECT doc_id, lang, text, h, wc,
         round(((CASE WHEN wc BETWEEN 20 AND 1000 THEN 1.0 WHEN wc >= 5 THEN 0.5 ELSE 0.0 END)
              + (CASE WHEN swr > 0.05 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN awl BETWEEN 2.5 AND 10 THEN 1.0 ELSE 0.5 END)) / 3.0, 4) AS quality
  FROM feat
), filtered AS (
  SELECT * FROM scored WHERE quality >= 0.5
), kept AS (
  SELECT h, (max({{'wc': wc, 'id': -doc_id}})).id * -1 AS kept_id
  FROM filtered GROUP BY h
)
SELECT f.doc_id, f.lang, f.wc AS words,
       len(regexp_extract_all(f.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS tokens,
       f.quality
FROM filtered f JOIN kept k ON f.h = k.h AND f.doc_id = k.kept_id
"""


@query("corpus_curate", oracle=_CURATE_ORACLE)
def q_corpus_curate(spark, sf_dir):
    # The end-to-end curation pass a training pipeline actually ships:
    # quality gate -> exact-dup keep-best -> per-doc token accounting.
    # Plan: narrow feature map, one shuffle on the content hash for the
    # keep-best group, hash-join back — at 100 TB the only wide ops are
    # on the 32-byte digest.
    from pulsar_ingestion_spark.functions.text import quality_score_from_words, words

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    # split ONCE and reuse the array (quality_score_from_words docstring):
    # word_count + quality_score each re-ran the regex split, and the HOF
    # lambdas block Catalyst CSE — one split is measurably cheaper on the
    # 100× text scan
    wcol = words(F.col("text"))
    feat = docs.select(
        "doc_id",
        "lang",
        "text",
        F.md5("text").alias("h"),
        F.size(wcol).alias("words"),
        quality_score_from_words(wcol).alias("quality"),
    )
    filtered = feat.filter(F.col("quality") >= 0.5)
    # keep-best as ONE hash aggregate on the digest shuffle (r3 used
    # groupBy(h) + join-back = the same data shuffled twice; r13 used a
    # row_number window = a per-digest sort of every duplicate):
    # best_struct ships ONE candidate row per digest per task (r14).
    out = filtered.groupBy("h").agg(
        best_struct(
            filtered, [("words", "desc"), ("doc_id", "asc")],
            ["lang", "text", "quality"],
        ).alias("top")
    )
    return out.select(
        F.col("top.doc_id").alias("doc_id"),
        F.col("top.lang").alias("lang"),
        F.col("top.words").alias("words"),
        token_count(F.col("top.text")).alias("tokens"),
        F.col("top.quality").alias("quality"),
    )


@query("dedup_cluster_lss", oracle=_CLUSTER_ORACLE)
def q_dedup_cluster_lss(spark, sf_dir):
    # Same clustering contract as dedup_cluster_components, computed by
    # large-star/small-star alternation (O(log^2 n) rounds) instead of
    # min-label propagation (O(diameter) rounds) — the variant to reach
    # for when dup-cluster shapes are chain-like rather than clique-like.
    # Checked against the same recursive-CTE oracle.
    from pulsar_ingestion_spark.operators.dedup import near_dup_clusters_lss

    docs = load_tables(spark, sf_dir)["documents"]
    docs3 = fan_out(docs.filter(F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 3), spark)
    pairs = ngram_jaccard_pairs(docs3, threshold=0.35, n=3).select("id_a", "id_b")
    return near_dup_clusters_lss(pairs, docs)


@query(
    "text_gopher_quality",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS w,
             string_split(text, chr(10)) AS lines
      FROM documents
    )
    SELECT doc_id,
           len(w) AS wc,
           round(1.0 - len(list_distinct(w)) * 1.0 / len(w), 6) AS dup_word_frac,
           round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(w), 6)
             AS alpha_word_frac,
           round(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) * 1.0 / len(lines), 6)
             AS bullet_line_frac,
           round(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) * 1.0 / len(lines), 6)
             AS ellipsis_line_frac,
           round(1.0 - len(list_distinct(lines)) * 1.0 / len(lines), 6) AS dup_line_frac,
           (len(w) BETWEEN 10 AND 100000
            AND 1.0 - len(list_distinct(w)) * 1.0 / len(w) <= 0.6
            AND len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(w) >= 0.7
            AND len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) * 1.0 / len(lines) <= 0.9
            AND 1.0 - len(list_distinct(lines)) * 1.0 / len(lines) <= 0.3) AS keep
    FROM f
    """,
)
def q_text_gopher_quality(spark, sf_dir):
    # Gopher-style repetition/format filters (Rae et al. 2021 §A1.1 rules,
    # re-expressed as portable column algebra): per-doc repetition
    # (dup word/line fractions), format signals (bullet/ellipsis lines,
    # alphabetic-word ratio) and the combined keep decision.  All
    # higher-order array built-ins over one narrow scan — zero shuffles,
    # zero Python; at 100 TB this is a pure map stage that fuses into
    # whatever filter/sink follows it.
    from pulsar_ingestion_spark.functions.text import (
        alpha_word_frac,
        bullet_line_frac,
        dup_line_frac,
        dup_word_frac,
        ellipsis_line_frac,
        word_count,
    )

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    t = F.col("text")
    wc = word_count(t)
    dw, aw = dup_word_frac(t), alpha_word_frac(t)
    bl, dl = bullet_line_frac(t), dup_line_frac(t)
    keep = (
        wc.between(10, 100000) & (dw <= 0.6) & (aw >= 0.7) & (bl <= 0.9) & (dl <= 0.3)
    )
    return docs.select(
        "doc_id",
        wc.alias("wc"),
        F.round(dw, 6).alias("dup_word_frac"),
        F.round(aw, 6).alias("alpha_word_frac"),
        F.round(bl, 6).alias("bullet_line_frac"),
        F.round(ellipsis_line_frac(t), 6).alias("ellipsis_line_frac"),
        F.round(dl, 6).alias("dup_line_frac"),
        keep.alias("keep"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH v AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 240 + 12 AS INTEGER) AS n_frames
      FROM documents
    ), j AS (
      SELECT media_id, n_frames, t.jj
      FROM v, unnest(range(8)) AS t(jj)
    )
    SELECT media_id, n_frames,
           CAST(FLOOR(jj * n_frames / 8.0) AS BIGINT) AS frame_idx,
           md5(CAST(media_id AS VARCHAR) || ':' ||
               CAST(CAST(FLOOR(jj * n_frames / 8.0) AS BIGINT) AS VARCHAR)) AS frame_sha
    FROM j
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    # Video frame sampling: synthetic blobs (no codec in this container)
    # -> uniform-stride index selection (JVM column algebra, narrow) ->
    # per-frame fingerprint via mapInPandas Arrow batches (the codec
    # injection point).  The oracle reproduces the stride math and the
    # md5 fingerprint in SQL, so the whole Python boundary is
    # hash-checked — schema, batch shape, AND values.
    from pulsar_ingestion_spark.operators.multimodal import sample_frames, synthesize_video

    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    return sample_frames(synthesize_video(docs), target=8)


@query(
    "multimodal_audio_chunks",
    oracle="""
    WITH a AS (
      SELECT doc_id AS media_id,
             16000 AS sample_rate,
             CAST((doc_id % 30 + 1) * 16000 AS BIGINT) AS n_samples
      FROM documents
    ), c AS (
      SELECT media_id, sample_rate, n_samples, t.chunk_idx
      FROM a, unnest(range(CAST(CEIL(n_samples / 160000.0) AS BIGINT))) AS t(chunk_idx)
    )
    SELECT media_id, sample_rate, n_samples, chunk_idx,
           chunk_idx * 160000 AS chunk_start,
           least(160000, n_samples - chunk_idx * 160000) AS chunk_len,
           md5(CAST(media_id AS VARCHAR) || ':' ||
               CAST(chunk_idx * 160000 AS VARCHAR) || ':' ||
               CAST(least(160000, n_samples - chunk_idx * 160000) AS VARCHAR)) AS chunk_sha
    FROM c
    """,
)
def q_multimodal_audio_chunks(spark, sf_dir):
    # Audio chunking for training pipelines: synthetic 16 kHz blobs ->
    # 10 s fixed windows (JVM sequence+explode, narrow) -> per-chunk
    # fingerprint via mapInPandas Arrow batches (the DSP injection
    # point).  Oracle reproduces boundaries and fingerprints in SQL, so
    # the Python stage is value-checked end-to-end.
    from pulsar_ingestion_spark.operators.multimodal import chunk_audio, synthesize_audio

    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    return chunk_audio(synthesize_audio(docs))


@query(
    "text_df_prune",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words FROM documents
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS docs
      FROM (SELECT doc_id, unnest(words) AS word FROM w)
      GROUP BY word
    ), bad AS (
      SELECT word FROM df WHERE docs > (SELECT count(*) FROM documents) * 0.5
    ), badlist AS (
      SELECT coalesce(list(word), []) AS bw FROM bad
    )
    SELECT doc_id,
           len(words) AS words_in,
           len(list_filter(words, x -> NOT list_contains(bw, x))) AS words_kept,
           coalesce(array_to_string(list_filter(words, x -> NOT list_contains(bw, x)), ' '), '')
             AS cleaned_text
    FROM w, badlist
    """,
)
def q_text_df_prune(spark, sf_dir):
    # Corpus-boilerplate vocabulary pruning: words whose document
    # frequency exceeds 50% of the corpus are navigation/template noise
    # (the IDF-zero band) — strip them from every document, preserving
    # order and multiplicity of what remains.
    #
    # Plan: one explode+distinct-count to build the high-DF vocabulary
    # (cardinality = vocab, tiny vs corpus), broadcast it as a one-row
    # array, then a narrow higher-order filter over each doc's word
    # array.  At 100 TB the wide side never shuffles — the only wide op
    # is on (word, doc_id) pairs, and that agg combines map-side.
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    w = docs.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("words"))
    total = docs.count()
    dfreq = (
        w.select("doc_id", F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count_distinct("doc_id").alias("docs"))
    )
    bad = dfreq.filter(F.col("docs") > total * 0.5).agg(
        F.collect_list("word").alias("bad_words")
    )
    pruned = w.crossJoin(F.broadcast(bad)).select(
        "doc_id",
        F.size("words").alias("words_in"),
        F.filter("words", lambda x: ~F.array_contains(F.col("bad_words"), x)).alias("kept"),
    )
    return pruned.select(
        "doc_id",
        "words_in",
        F.size("kept").alias("words_kept"),
        F.array_join("kept", " ").alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# Round-5 additions: ANN quality measurement, centroid geometry, dedup
# survivorship reporting, and language rebalancing — the evaluation/report
# layer a training-data pipeline runs on top of its dedup + search stages.
# ---------------------------------------------------------------------------

_RECALL_EVAL_ORACLE = f"""
WITH {{cte}},
lsh_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round({_KNN_DOT.format(a='q.embedding', b='c.embedding')}
           / (sqrt({_KNN_DOT.format(a='q.embedding', b='q.embedding')})
            * sqrt({_KNN_DOT.format(a='c.embedding', b='c.embedding')})), 6) AS cos_sim
  FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
),
lsh AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, cand_id) AS rnk
    FROM lsh_scored) WHERE rnk <= 5
),
bf_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round({_KNN_DOT.format(a='q.embedding', b='c.embedding')}
           / (sqrt({_KNN_DOT.format(a='q.embedding', b='q.embedding')})
            * sqrt({_KNN_DOT.format(a='c.embedding', b='c.embedding')})), 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
),
bf AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, cand_id) AS rnk
    FROM bf_scored) WHERE rnk <= 5
),
hits AS (
  SELECT bf.query_id, count(*) AS c
  FROM bf JOIN lsh ON bf.query_id = lsh.query_id AND bf.cand_id = lsh.cand_id
  GROUP BY bf.query_id
)
SELECT q.query_id, round(CAST(coalesce(h.c, 0) AS DOUBLE) / 5.0, 6) AS recall_at_5
FROM (SELECT DISTINCT query_id FROM bf) q
LEFT JOIN hits h ON q.query_id = h.query_id
""".format(cte=_signlsh_bucket_cte(64, 6, [42]))


@query("sim_search_recall_eval", oracle=_RECALL_EVAL_ORACLE)
def q_sim_search_recall_eval(spark, sf_dir):
    """Per-query recall@5 of the sign-LSH index against exact brute
    force — the eval loop every ANN deployment runs before trusting an
    index.  Both arms are the registry's own operators (same seeded
    portable planes), so the whole evaluation is oracle-recomputable;
    the overlap join is on (query, candidate) ids of two 5-row-per-query
    relations (tiny), and the expensive arms reuse the bucketed /
    broadcast-query plans already gated for scale."""
    from pulsar_ingestion_spark.operators.similarity import knn_bruteforce, knn_lsh

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.filter(F.col("vec_id") < 20)
    lsh = knn_lsh(q, emb, dim=64, k=5, num_planes=6).select("query_id", "cand_id")
    bf = knn_bruteforce(q, emb, k=5).select("query_id", "cand_id")
    hits = bf.join(lsh, ["query_id", "cand_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        bf.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("c"), F.lit(0)).cast("double") / 5.0, 6).alias(
                "recall_at_5"
            ),
        )
    )


_LABEL_AFFINITY_ORACLE = """
WITH cent AS (
  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
         round(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
               / count(*), 6) AS v
  FROM embeddings, range(1, 65) r(i)
  GROUP BY label, i
), pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(a.v * b.v AS DECIMAL(20,12))) AS DOUBLE) AS dot_ab,
         CAST(SUM(CAST(a.v * a.v AS DECIMAL(20,12))) AS DOUBLE) AS dot_aa,
         CAST(SUM(CAST(b.v * b.v AS DECIMAL(20,12))) AS DOUBLE) AS dot_bb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       round(dot_ab / sqrt(dot_aa) / sqrt(dot_bb), 6) AS cos_sim
FROM pairs
"""


@query("emb_label_affinity", oracle=_LABEL_AFFINITY_ORACLE)
def q_emb_label_affinity(spark, sf_dir):
    """Pairwise cosine between class centroids — the label-confusion
    geometry check before using labels for stratified sampling or
    distillation.  Centroids reduce the corpus to labels x dims rows in
    one partial-agg shuffle; the pairwise stage is a self-join of that
    tiny relation on dim position (decimal dot products, engine-exact).
    Corpus never sees a cross join."""
    emb = load_tables(spark, sf_dir)["embeddings"]  # no fan_out (r13)
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "e"))
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("e").cast("double").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("v")
        )
    )
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("v").alias("av"))
    b = cent.select(F.col("label").alias("label_b"), F.col("pos").alias("pos_b"), F.col("v").alias("bv"))
    dec = lambda c: c.cast("decimal(20,12)")  # noqa: E731
    pairs = (
        a.join(b, (a["pos"] == b["pos_b"]) & (a["label_a"] < b["label_b"]))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(dec(F.col("av") * F.col("bv"))).cast("double").alias("dot_ab"),
            F.sum(dec(F.col("av") * F.col("av"))).cast("double").alias("dot_aa"),
            F.sum(dec(F.col("bv") * F.col("bv"))).cast("double").alias("dot_bb"),
        )
    )
    return pairs.select(
        "label_a", "label_b",
        F.round(
            F.col("dot_ab") / F.sqrt(F.col("dot_aa")) / F.sqrt(F.col("dot_bb")), 6
        ).alias("cos_sim"),
    )


_SURVIVORSHIP_ORACLE = """
WITH ranked AS (
  SELECT source,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
SELECT source,
       count(*) AS total_docs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       round(CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS retention
FROM ranked GROUP BY source
"""


@query("text_dedup_survivorship", oracle=_SURVIVORSHIP_ORACLE)
def q_text_dedup_survivorship(spark, sf_dir):
    """Per-source survivorship report of exact keep-best dedup — the
    accountability table (who lost how much to dedup?) every corpus
    release ships.  Same digest-shuffle row_number plan as
    dedup_keep_best (one shuffle on the digest), then a 20-row source
    rollup; integer sums cast BIGINT for the oracle hash (HUGEINT
    rule)."""
    from pyspark.sql import Window as W

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    w = W.partitionBy(F.md5("text")).orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = docs.select("source", F.row_number().over(w).alias("rn"))
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_docs"),
        kept.cast("bigint").alias("kept_docs"),
        F.round(kept.cast("double") / F.count(F.lit(1)), 6).alias("retention"),
    )


_LANG_BALANCE_ORACLE = r"""
WITH t AS (
  SELECT lang,
         CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT)
           AS tokens
  FROM documents GROUP BY lang
), tot AS (SELECT CAST(SUM(tokens) AS DOUBLE) AS total FROM t),
w(lang, target) AS (
  VALUES ('en', 0.40), ('es', 0.15), ('fr', 0.15), ('de', 0.15), ('zh', 0.15)
)
SELECT t.lang, t.tokens,
       round(t.tokens / tot.total, 6) AS actual_share,
       CAST(w.target AS DOUBLE) AS target_share,
       round(least(1.0, CAST(w.target AS DOUBLE) / (t.tokens / tot.total)), 6)
         AS sample_rate
FROM t JOIN w ON t.lang = w.lang CROSS JOIN tot
"""


@query("corpus_lang_balance", oracle=_LANG_BALANCE_ORACLE)
def q_corpus_lang_balance(spark, sf_dir):
    """Language rebalancing plan: per-language token share vs target mix
    and the downsampling rate that achieves it (rate = min(1,
    target/actual)) — the step between corpus stats and corpus_assemble.
    One token-count shuffle on the 5-value lang key; the target mix and
    the 1-row total both broadcast."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    t = docs.groupBy("lang").agg(
        F.sum(F.size(F.split(F.trim(F.lower("text")), r"\s+"))).cast("bigint").alias("tokens")
    )
    tot = t.agg(F.sum("tokens").cast("double").alias("total"))
    targets = docs.sparkSession.createDataFrame(
        [("en", 0.40), ("es", 0.15), ("fr", 0.15), ("de", 0.15), ("zh", 0.15)],
        "lang string, target_share double",
    )
    share = F.col("tokens") / F.col("total")
    return (
        t.join(F.broadcast(targets), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang", "tokens",
            F.round(share, 6).alias("actual_share"),
            "target_share",
            F.round(F.least(F.lit(1.0), F.col("target_share") / share), 6).alias("sample_rate"),
        )
    )


_URL_CANON_ORACLE = """
WITH urls AS (
  SELECT doc_id, source,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END)
         || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
         || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
         || (CASE WHEN doc_id % 3 = 1 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 1 THEN '?utm_source=feed&id=' || CAST(doc_id // 4 AS VARCHAR)
                  ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN '#section' ELSE '' END) AS url
  FROM documents
), canon AS (
  SELECT doc_id, source, url,
         rtrim(lower(string_split(string_split(url, '#')[1], '?')[1]), '/') AS canonical_url
  FROM urls
)
SELECT source,
       count(*) AS n_urls,
       count(DISTINCT url) AS n_distinct_raw,
       count(DISTINCT canonical_url) AS n_canonical
FROM canon GROUP BY source
"""


@query("dedup_url_canonical", oracle=_URL_CANON_ORACLE)
def q_dedup_url_canonical(spark, sf_dir):
    """URL canonicalization dedup — the first pass of every web-crawl
    pipeline: scheme/host case-folding, tracking-query stripping,
    fragment removal, and trailing-slash normalization collapse the
    superficially-distinct raw URLs onto canonical keys.  URLs are
    synthesized deterministically from (doc_id, source) with four
    injected variation classes, so the oracle rebuilds the same crawl
    frontier; canonicalization itself is a narrow string projection
    (split on '#', split on '?', lower, rtrim '/') — zero shuffle until
    the per-source distinct counts, which at 100 TB are the standard
    two-level distinct aggregation."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    half = F.expr("doc_id div 4").cast("string")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, "HTTP://").otherwise("http://"),
        F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".example.com/page/"), half,
        F.when(F.col("doc_id") % 3 == 1, "/").otherwise(""),
        F.when(
            F.col("doc_id") % 2 == 1, F.concat(F.lit("?utm_source=feed&id="), half)
        ).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, "#section").otherwise(""),
    )
    urls = docs.select("doc_id", "source", url.alias("url"))
    canonical = F.regexp_replace(
        F.lower(F.split_part(F.split_part(F.col("url"), F.lit("#"), F.lit(1)),
                             F.lit("?"), F.lit(1))),
        "/+$", "",
    )
    canon = urls.select("source", "url", canonical.alias("canonical_url"))
    return canon.groupBy("source").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("url").alias("n_distinct_raw"),
        F.countDistinct("canonical_url").alias("n_canonical"),
    )


_LANGID_CONFUSION_ORACLE = f"""
WITH pred AS (
  SELECT lang AS labeled_lang,
         CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                  w -> list_contains({{stop}}, w)))
                  * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) > 0.08
              THEN 'en' ELSE 'other' END AS guessed_lang
  FROM documents
)
SELECT labeled_lang, guessed_lang, count(*) AS n_docs
FROM pred GROUP BY labeled_lang, guessed_lang
"""


@query(
    "text_langid_confusion",
    oracle=_LANGID_CONFUSION_ORACLE.format(stop="{stop}").replace("{stop}", _STOP_SQL),
)
def q_text_langid_confusion(spark, sf_dir):
    """Language-ID evaluation: the confusion matrix of the stopword-
    density classifier (text_lang_id) against the corpus's declared
    labels — the accept/review decision every lang-filter deployment
    makes before trusting the classifier at scale.  Classification is
    the same narrow expression as text_lang_id (zero shuffle); the
    matrix is one |langs|×2-key aggregation, model-sized output at any
    corpus size."""
    from pulsar_ingestion_spark.functions.text import stopword_ratio

    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        F.when(stopword_ratio(F.col("text")) > 0.08, "en").otherwise("other").alias("guessed_lang"),
    )
    return pred.groupBy("labeled_lang", "guessed_lang").agg(F.count("*").alias("n_docs"))


_CROSS_SOURCE_DUP_ORACLE = r"""
WITH digests AS (
  SELECT md5(array_to_string((regexp_split_to_array(trim(lower(text)), '\s+'))[1:5], ' ')) AS h,
         source
  FROM documents
), per_digest AS (
  SELECT h, list_sort(list_distinct(list(source))) AS sources
  FROM digests GROUP BY h
), pairs AS (
  SELECT u1.s AS source_a, u2.s AS source_b
  FROM per_digest p,
       unnest(p.sources) AS u1(s),
       unnest(p.sources) AS u2(s)
  WHERE u1.s < u2.s
)
SELECT source_a, source_b, count(*) AS shared_digests
FROM pairs GROUP BY source_a, source_b
"""


@query("dedup_cross_source", oracle=_CROSS_SOURCE_DUP_ORACLE)
def q_dedup_cross_source(spark, sf_dir):
    """Cross-source duplication matrix: for every source pair, how many
    duplicate content fingerprints they share — the report that tells a
    crawl pipeline WHICH feeds are mirroring each other (the per-source
    survivor counts in corpus_dedup_report can't say that).  The
    fingerprint is the md5 of the 5-word lowercased prefix (prefix
    fingerprinting — the cheap first-pass key syndication dedup uses;
    swap in the full-text digest or a minhash for stricter equality
    without changing the plan).  One digest
    shuffle builds per-digest sorted source sets (collect_set partials
    combine map-side, set size bounded by |sources|), pair generation is
    the same narrow array expansion as events_user_overlap_jaccard, and
    the output is |sources|² rows at any corpus scale."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    prefix = F.array_join(F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, 5), " ")
    per_digest = (
        docs.select(F.md5(prefix).alias("h"), "source")
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("sources"))
    )
    pair_expr = (
        "flatten(transform(sources, (x, i) -> "
        "transform(slice(sources, i + 2, size(sources)), "
        "y -> struct(x AS source_a, y AS source_b))))"
    )
    return (
        per_digest.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_digests"))
    )


_BIGRAM_LOGPROB_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), tfd AS (
  SELECT doc_id, bigram, count(*) AS tf FROM big GROUP BY doc_id, bigram
), bc AS (
  SELECT bigram, SUM(tf) AS cntb FROM tfd GROUP BY bigram
), pc AS (
  SELECT split_part(bigram, ' ', 1) AS prefix, SUM(cntb) AS cntp FROM bc GROUP BY 1
), scored AS (
  SELECT t.doc_id, t.tf,
         round(-log2(CAST(bc.cntb AS DOUBLE) / pc.cntp), 6) AS neg_log2p
  FROM tfd t
  JOIN bc ON bc.bigram = t.bigram
  JOIN pc ON pc.prefix = split_part(t.bigram, ' ', 1)
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       CAST(SUM(tf * CAST(neg_log2p AS DECIMAL(18,6))) AS DOUBLE) AS total_neg_log2p
FROM scored GROUP BY doc_id
"""


@query("text_bigram_logprob", oracle=_BIGRAM_LOGPROB_ORACLE)
def q_text_bigram_logprob(spark, sf_dir):
    """Bigram conditional cross-entropy per document: Σ -log2 p(w₂|w₁)
    over the doc's bigrams, with p(w₂|w₁) = corpus bigram count /
    prefix-word count — one LM order above text_unigram_logprob, the
    next-cheapest perplexity proxy for corpus quality bucketing (and the
    same plan family KenLM-style scoring would use).  Bigrams come from
    a NARROW array zip of adjacent tokens (no positional self-join);
    the stream collapses once to (doc, bigram, tf), so every join is
    bounded by distinct pairs, the bigram/prefix count tables are
    vocabulary-sized (broadcast candidates), and the per-term
    round6+decimal-sum discipline keeps Σ order-free (registry parity
    rules)."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    big = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    # Shuffle 8-byte xxhash64 digests of the bigram/prefix, not the
    # strings: counts-by-digest == counts-by-string (same precedent as
    # text_line_dedup — the oracle stays in plain strings; a 64-bit
    # collision over a vocabulary-sized key set is ~1e-9), and the
    # (doc, key) shuffle width drops by the full text payload.
    keyed = big.select(
        "doc_id",
        F.xxhash64("bigram").alias("bk"),
        F.xxhash64(F.substring_index("bigram", " ", 1)).alias("pk"),
    )
    tfd = keyed.groupBy("doc_id", "bk", "pk").agg(F.count(F.lit(1)).alias("tf"))
    bc = tfd.groupBy("bk").agg(F.sum("tf").alias("cntb"))
    pc = tfd.groupBy("pk").agg(F.sum("tf").alias("cntp"))
    scored = (
        tfd.join(bc, "bk")
        .join(pc, "pk")
        .select(
            "doc_id", "tf",
            F.round(-F.log2(F.col("cntb").cast("double") / F.col("cntp")), 6)
            .alias("neg_log2p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("neg_log2p").cast("decimal(18,6)"))
        .cast("double").alias("total_neg_log2p"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity self-join (the PPJoin/AllPairs family).

_PPJ_T = 0.6  # Jaccard threshold

_PREFIX_JACCARD_ORACLE = rf"""
WITH reps AS (
  SELECT min(doc_id) AS doc_id, count(*) AS cluster_sz
  FROM documents GROUP BY md5(text)
), words_ AS (
  SELECT d.doc_id, regexp_split_to_array(trim(lower(d.text)), '\s+') AS t
  FROM documents d JOIN reps r ON r.doc_id = d.doc_id
), toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tok
  FROM words_ WHERE len(t) >= 3
), df AS (
  SELECT tok, count(*) AS dfreq FROM toks GROUP BY tok
), sized AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
), ordered AS (
  SELECT t.doc_id, t.tok, s.sz,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY d.dfreq, t.tok) AS pos
  FROM toks t JOIN df d ON d.tok = t.tok JOIN sized s ON s.doc_id = t.doc_id
), prefix AS (
  SELECT doc_id, tok, sz FROM ordered
  WHERE pos <= sz - CAST(ceil(sz * {_PPJ_T}) AS BIGINT) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.id_a
  JOIN toks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b, i.n_common,
       CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard,
       CAST(ra.cluster_sz * rb.cluster_sz AS BIGINT) AS pair_weight
FROM inter i
JOIN sized sa ON sa.doc_id = i.id_a
JOIN sized sb ON sb.doc_id = i.id_b
JOIN reps ra ON ra.doc_id = i.id_a
JOIN reps rb ON rb.doc_id = i.id_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= {_PPJ_T}
"""


@query("dedup_jaccard_prefix_filter", oracle=_PREFIX_JACCARD_ORACLE)
def q_dedup_jaccard_prefix_filter(spark, sf_dir):
    """Set-similarity self-join over 3-gram SHINGLE sets with PREFIX
    FILTERING (the AllPairs/PPJoin principle): two shingle sets can only
    reach Jaccard ≥ t if they share a shingle among each set's
    (sz − ⌈t·sz⌉ + 1) RAREST shingles —
    so candidate pairs are generated from that short, low-df prefix
    only, then verified exactly.  Versus plain banding
    (dedup_minhash_banded) this is exact (no hash collisions / missed
    bands) while still never enumerating all pairs: candidate volume is
    driven by rare-token co-occurrence, which df-ordering makes small.
    Shuffles: token df (vocab-sized), per-doc rank window, prefix-token
    equi-join, verification join on the candidate pairs.  Scale
    assumption: candidate volume is Σ df_prefix(t)², near-linear only
    while vocabulary grows with the corpus (Heaps' law keeps rare-token
    dfs stationary); on fixed-vocab corpora cap the prefix df (skip
    prefix tokens above a df ceiling — making the join approximate) or
    fall back to dedup_minhash_banded."""
    from pulsar_ingestion_spark.functions.text import ngrams, words

    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    # EXACT-dedup first (production order): every text cluster is reduced
    # to its min-doc_id representative, so near-dup pairs are pairs of
    # DISTINCT texts — without this, an m-copy exact-dup cluster emits
    # m²/2 identical pairs (7M rows at sf0.1 on this corpus), an output
    # explosion no pipeline wants.  Cluster sizes ride along as the pair
    # weight.
    reps = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("cluster_sz")
    ).drop("h").persist()
    # 3-gram SHINGLE sets, not unigram token sets: on template-heavy
    # corpora unigram sets of same-domain docs overlap almost totally
    # (this fixture: ~7M unigram pairs ≥ 0.6 vs 241 shingle pairs at
    # sf0.1) — shingles carry word order, which is what near-duplicate
    # means.  Docs under 3 tokens have no shingles and drop out.
    toks = (
        docs.join(reps.select("doc_id"), "doc_id")
        .filter(F.size(words(F.lower(F.col("text")))) >= 3)
        .select("doc_id", F.explode(ngrams(F.col("text"), 3)).alias("tok"))
        .distinct()
        .persist()
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("dfreq"))
    sized = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    w = Window.partitionBy("doc_id").orderBy("dfreq", "tok")
    ordered = (
        toks.join(dfreq, "tok")
        .join(sized, "doc_id")
        .select("doc_id", "tok", "sz", F.row_number().over(w).alias("pos"))
    )
    prefix = ordered.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.col("sz") * _PPJ_T) + 1
    ).select("doc_id", "tok")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("id_b"), "tok")
    inter = (
        cand.join(ta, "id_a").join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sized.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sized.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    ra = reps.select(F.col("doc_id").alias("id_a"), F.col("cluster_sz").alias("cza"))
    rb = reps.select(F.col("doc_id").alias("id_b"), F.col("cluster_sz").alias("czb"))
    jac = F.col("n_common").cast("double") / (
        F.col("sza") + F.col("szb") - F.col("n_common")
    )
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .join(F.broadcast(ra), "id_a").join(F.broadcast(rb), "id_b")
        .filter(jac >= _PPJ_T)
        .select(
            "id_a", "id_b", "n_common", jac.alias("jaccard"),
            (F.col("cza") * F.col("czb")).cast("bigint").alias("pair_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Round 6: the production dedup CASCADE — exact first (cheap, exact),
# then MinHash-banded near-dup over the exact survivors — reported as a
# per-source funnel.  This is the stage ordering every corpus pipeline
# runs (exact dedup shrinks the candidate space before the LSH pass);
# survivorship at both stages is min-doc-id, so the whole funnel is
# deterministic and oracle-hash-checkable.

_CASCADE_ORACLE = r"""
WITH ex AS (
  SELECT doc_id, source, text, md5(text) AS h FROM documents
), keep AS (
  SELECT h, min(doc_id) AS keep_id FROM ex GROUP BY h
), s1 AS (
  SELECT e.doc_id, e.source, e.text
  FROM ex e JOIN keep k ON k.h = e.h AND k.keep_id = e.doc_id
), raw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS rw
  FROM s1
), wd AS (
  SELECT doc_id,
         CASE WHEN len(rw) >= 3 THEN
           list_distinct(list_transform(range(1, len(rw) - 2 + 1),
             i -> concat(rw[i], ' ', rw[i+1], ' ', rw[i+2])))
         ELSE [array_to_string(rw, ' ')] END AS w
  FROM raw
), sigs AS (
  SELECT doc_id, w,
         {sigcols}
  FROM wd
), bands AS (
  {bandrows}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
), removed AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c JOIN wd x ON x.doc_id = c.id_a JOIN wd y ON y.doc_id = c.id_b
  WHERE len(list_intersect(x.w, y.w))
        / (len(x.w) + len(y.w) - len(list_intersect(x.w, y.w))) >= 0.35
), a1 AS (
  SELECT source, count(*) AS c FROM documents GROUP BY source
), a2 AS (
  SELECT source, count(*) AS c FROM s1 GROUP BY source
), a3 AS (
  SELECT s1.source, count(*) AS c
  FROM s1 LEFT JOIN removed r ON r.doc_id = s1.doc_id
  WHERE r.doc_id IS NULL GROUP BY s1.source
)
SELECT a1.source,
       CAST(a1.c AS BIGINT) AS n_docs,
       CAST(a1.c - a2.c AS BIGINT) AS exact_removed,
       CAST(a2.c - COALESCE(a3.c, 0) AS BIGINT) AS near_removed,
       CAST(COALESCE(a3.c, 0) AS BIGINT) AS n_final
FROM a1 JOIN a2 ON a2.source = a1.source
LEFT JOIN a3 ON a3.source = a1.source
""".format(
    sigcols=",\n         ".join(
        f"list_aggregate(list_transform(w, x -> md5(concat('{s}:', x))), 'min') AS sig_{i}"
        for i, s in enumerate(_MINHASH_SEEDS)
    ),
    bandrows="\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat(sig_{2 * b}, sig_{2 * b + 1}) AS bval FROM sigs"
        for b in range(4)
    ),
)


@query("text_dedup_cascade", oracle=_CASCADE_ORACLE)
def q_text_dedup_cascade(spark, sf_dir):
    """Two-stage dedup cascade, per-source funnel report: (1) exact —
    md5(text) groups keep their min doc_id (one 16-byte-digest shuffle,
    removes the bulk for free); (2) near — the portable MinHash-banded
    LSH of dedup_minhash_banded runs over the EXACT SURVIVORS ONLY
    (8 md5 minhashes over 3-gram shingles → 4 bands → candidate pairs →
    exact shingle-Jaccard ≥ 0.35 verify), and a doc is removed iff some
    verified partner has a smaller id.  Stage ordering is the point at
    100 TB: the cheap exact pass shrinks the LSH candidate space before
    any signature is computed, and both stages' survivorship is
    min-id-deterministic so the funnel (n_docs → exact_removed →
    near_removed → n_final) hash-matches the oracle."""
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    ex = docs.select("doc_id", "source", "text", F.md5("text").alias("h"))
    keep = ex.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    s1 = (
        ex.join(keep, (ex["h"] == keep["h"]) & (ex["doc_id"] == keep["keep_id"]))
        .select("doc_id", "source", "text")
        .persist()
    )
    # explode+codegen signature evaluation + one materialization (same
    # round-8 fix as minhash_banded_pairs: identical md5 values, no
    # interpreted HOF hashing, no recompute through posexplode/joins)
    from pulsar_ingestion_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(s1, n=3, hash="md5").persist()
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.concat(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))
                for b in range(4)
            ])
        ).alias("band", "bval"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    shg = sigs.select("doc_id", "w")
    x = shg.select(F.col("doc_id").alias("x_id"), F.col("w").alias("xw"))
    y = shg.select(F.col("doc_id").alias("y_id"), F.col("w").alias("yw"))
    inter = F.size(F.array_intersect("xw", "yw"))
    jac = F.round(
        inter / (F.size("xw") + F.size("yw") - inter), 6
    )
    removed = (
        cand.join(x, F.col("id_a") == F.col("x_id"))
        .join(y, F.col("id_b") == F.col("y_id"))
        .filter(jac >= 0.35)
        .select(F.col("id_b").alias("rm_id"))
        .distinct()
    )
    a1 = docs.groupBy("source").agg(F.count("*").alias("c1"))
    a2 = s1.groupBy("source").agg(F.count("*").alias("c2"))
    a3 = (
        s1.join(removed, s1["doc_id"] == removed["rm_id"], "left_anti")
        .groupBy("source")
        .agg(F.count("*").alias("c3"))
    )
    return (
        a1.join(a2, "source")
        .join(a3, "source", "left")
        .select(
            "source",
            F.col("c1").cast("bigint").alias("n_docs"),
            (F.col("c1") - F.col("c2")).cast("bigint").alias("exact_removed"),
            (F.col("c2") - F.coalesce(F.col("c3"), F.lit(0)))
            .cast("bigint").alias("near_removed"),
            F.coalesce(F.col("c3"), F.lit(0)).cast("bigint").alias("n_final"),
        )
    )


# ---------------------------------------------------------------------------
# Round 6: RAKE keyphrase extraction (Rose et al. 2010, "Automatic
# Keyword Extraction from Individual Documents" — public method).
# Candidate phrases are maximal stopword-free word runs; each word earns
# freq (occurrences) and degree (Σ length of phrases containing it);
# phrase score = Σ_w degree(w)/freq(w).

_RAKE_STOPS = "the|a|is|of|and|to|in"
_RAKE_MAX_WORDS = 4
_RAKE_TOPK = 20

_RAKE_ORACLE = rf"""
WITH marked AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\b({_RAKE_STOPS})\b', '|', 'g') AS m
  FROM documents
), occ AS (
  SELECT doc_id,
         trim(regexp_replace(p, '\s+', ' ', 'g')) AS phrase
  FROM marked, unnest(string_split(m, '|')) AS t(p)
), occ2 AS (
  SELECT doc_id, phrase, string_split(phrase, ' ') AS pw
  FROM occ WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= {_RAKE_MAX_WORDS}
), wordstats AS (
  SELECT w, count(*) AS freq, CAST(SUM(plen) AS BIGINT) AS degree
  FROM (SELECT t.w, len(pw) AS plen FROM occ2, unnest(pw) AS t(w)) s
  GROUP BY w
), phrases AS (
  SELECT DISTINCT phrase, pw FROM occ2
), scored AS (
  SELECT p.phrase,
         CAST(SUM(CAST(round(CAST(ws.degree AS DOUBLE) / ws.freq, 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM phrases p, unnest(p.pw) AS t(w)
  JOIN wordstats ws ON ws.w = t.w
  GROUP BY p.phrase
), counted AS (
  SELECT o.phrase, count(*) AS n_occurrences
  FROM occ2 o GROUP BY o.phrase
)
SELECT s.phrase, c.n_occurrences, s.score,
       CAST(row_number() OVER (ORDER BY s.score DESC, s.phrase) AS BIGINT) AS rank
FROM scored s JOIN counted c ON c.phrase = s.phrase
ORDER BY s.score DESC, s.phrase
LIMIT {_RAKE_TOPK}
"""


@query("text_keyphrase_rake", oracle=_RAKE_ORACLE)
def q_text_keyphrase_rake(spark, sf_dir):
    """RAKE keyphrase extraction over the corpus: stopword boundaries
    split each document into candidate phrases (≤ 4 words); word
    statistics (freq = occurrences, degree = Σ phrase length over
    occurrences) come from ONE exploded aggregation; each distinct
    phrase scores Σ degree(w)/freq(w) over its words — rounded per-term
    and DECIMAL-summed so the fold is order-independent across engines —
    and the global top-20 lands via TakeOrdered.  Everything is narrow
    maps + two word-keyed shuffles; the phrase relation is
    corpus-sized, the word-stats relation vocabulary-sized, and the
    driver only ever sees K rows."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    marked = docs.select(
        "doc_id",
        F.regexp_replace(
            F.lower(F.trim(F.col("text"))), rf"\b({_RAKE_STOPS})\b", "|"
        ).alias("m"),
    )
    occ = marked.select(
        "doc_id", F.explode(F.split(F.col("m"), r"\|")).alias("p")
    ).select(
        "doc_id",
        F.trim(F.regexp_replace(F.col("p"), r"\s+", " ")).alias("phrase"),
    )
    occ2 = occ.filter(F.col("phrase") != "").withColumn(
        "pw", F.split(F.col("phrase"), " ")
    ).filter(F.size("pw") <= _RAKE_MAX_WORDS)
    wordstats = (
        occ2.select(F.explode("pw").alias("w"), F.size("pw").alias("plen"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").cast("bigint").alias("degree"))
    )
    phrases = occ2.select("phrase", "pw").distinct()
    scored = (
        phrases.select("phrase", F.explode("pw").alias("w"))
        .join(wordstats, "w")
        .groupBy("phrase")
        .agg(
            F.sum(
                F.round(F.col("degree").cast("double") / F.col("freq"), 6)
                .cast("decimal(18,6)")
            )
            .cast("double")
            .alias("score")
        )
    )
    counted = occ2.groupBy("phrase").agg(F.count("*").alias("n_occurrences"))
    from pyspark.sql import Window

    # TakeOrdered K first (distributed top-k, no global sort of the
    # phrase relation); the unpartitioned row_number then runs over the
    # K-row result only (GLOBAL_WINDOW_OK-class bounded input)
    top = (
        scored.join(counted, "phrase")
        .orderBy(F.col("score").desc(), F.col("phrase"))
        .limit(_RAKE_TOPK)
    )
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("phrase")))
        .cast("bigint"),
    ).select("phrase", "n_occurrences", "score", "rank")


# ---------------------------------------------------------------------------
# Round 6: measured recall of the banded-LSH dedup vs EXACT ground truth
# — the dedup twin of sim_search_recall_eval.  Ground truth = every pair
# with exact 3-gram-shingle Jaccard >= 0.35 (complete: any pair above
# the threshold shares >= 1 shingle, so the shingle-cooccurrence join
# misses nothing).  The LSH pairs verify the same exact Jaccard on the
# same shingle sets, so they are a SUBSET of the truth by construction
# and recall = n_lsh / n_exact.

_LSH_RECALL_ORACLE = r"""
WITH raw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS rw
  FROM documents
), wd AS (
  SELECT doc_id,
         CASE WHEN len(rw) >= 3 THEN
           list_distinct(list_transform(range(1, len(rw) - 2 + 1),
             i -> concat(rw[i], ' ', rw[i+1], ' ', rw[i+2])))
         ELSE [array_to_string(rw, ' ')] END AS w
  FROM raw
), sigs AS (
  SELECT doc_id, w,
         {sigcols}
  FROM wd
), bands AS (
  {bandrows}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
), lshpairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN wd x ON x.doc_id = c.id_a JOIN wd y ON y.doc_id = c.id_b
  WHERE len(list_intersect(x.w, y.w))
        / (len(x.w) + len(y.w) - len(list_intersect(x.w, y.w))) >= 0.35
), expl AS (
  SELECT doc_id, len(w) AS sz, t.g FROM wd, unnest(w) AS t(g)
), pairinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         max(a.sz) AS size_a, max(b.sz) AS size_b, count(*) AS inter_cnt
  FROM expl a JOIN expl b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), exact AS (
  SELECT id_a, id_b FROM pairinter
  WHERE inter_cnt / (size_a + size_b - inter_cnt) >= 0.35
)
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM lshpairs) AS BIGINT) AS n_lsh,
       round(CAST((SELECT count(*) FROM lshpairs) AS DOUBLE)
             / (SELECT count(*) FROM exact), 6) AS recall
""".format(
    sigcols=",\n         ".join(
        f"list_aggregate(list_transform(w, x -> md5(concat('{s}:', x))), 'min') AS sig_{i}"
        for i, s in enumerate(_MINHASH_SEEDS)
    ),
    bandrows="\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat(sig_{2 * b}, sig_{2 * b + 1}) AS bval FROM sigs"
        for b in range(4)
    ),
)


@query("dedup_lsh_recall_eval", oracle=_LSH_RECALL_ORACLE)
def q_dedup_lsh_recall_eval(spark, sf_dir):
    """Dedup recall scorecard: exact ground truth (shingle-cooccurrence
    join — complete above any positive threshold, never all-pairs) vs
    the MinHash-banded pipeline's verified pairs, as one measured-recall
    row.  This is the number that justifies the LSH parameters (8
    hashes × 4 bands ⇒ ~expected recall at J=0.35) IN-PLAN, the same
    discipline as sim_search_recall_eval for ANN: the candidate
    generator is probabilistic, so the engine measures what it loses.
    Both legs bound pair generation by co-occurrence (shared shingle /
    shared band) — the truth leg's shuffle is the posting-list join of
    dedup_ngram_jaccard, the LSH leg's is 4 band keys per doc.  Scale
    note: the truth leg is Σ df(shingle)² work, affordable only at
    audit scale; at 100 TB the evaluation runs on a deterministic
    hash-sample of doc ids with BOTH legs restricted identically —
    recall estimates don't need the full corpus, the dedup itself
    (dedup_minhash_banded / text_dedup_cascade) does and stays banded."""
    from pulsar_ingestion_spark.operators.dedup import ngram_jaccard_pairs

    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    exact = ngram_jaccard_pairs(docs, threshold=0.35, n=3).select("id_a", "id_b")
    lsh = q_dedup_minhash_banded(spark, sf_dir).select("id_a", "id_b")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    return n_exact.crossJoin(F.broadcast(n_lsh)).select(
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_lsh").cast("bigint").alias("n_lsh"),
        F.round(
            F.col("n_lsh").cast("double") / F.col("n_exact"), 6
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Round 10: byte-level exact dedup of binary media payloads — the dedup
# family crossed with the multimodal column plumbing (dedup before decode
# is the cheapest dedup a 100 TB media pipeline has: one digest shuffle,
# no codec anywhere).

_MM_DEDUP_MOD = 97

_MM_DEDUP_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
    ('SYNM'::BLOB
     || unhex(lpad(hex((doc_id % {_MM_DEDUP_MOD}) % 64 + 16), 4, '0'))
     || unhex(lpad(hex((doc_id % {_MM_DEDUP_MOD}) % 48 + 16), 4, '0'))
     || encode(sha256(CAST(doc_id % {_MM_DEDUP_MOD} AS VARCHAR)))) AS payload
  FROM documents
)
SELECT md5(hex(payload)) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_media_id,
       CAST(count(*) AS BIGINT) AS dup_cnt,
       CAST(max(octet_length(payload)) AS BIGINT) AS byte_len
FROM p GROUP BY 1
"""


@query("multimodal_dedup_bytes", oracle=_MM_DEDUP_ORACLE)
def q_multimodal_dedup_bytes(spark, sf_dir):
    """Exact-content dedup over the binary payload column: md5 of the
    (uppercase-hex-encoded) bytes → canonical min media id + dup count —
    the media twin of dedup_exact, run BEFORE any decode so duplicate
    blobs never cost codec CPU or a second copy downstream.  One digest
    shuffle over 16-byte keys; the payload itself never shuffles (the
    digest is computed in the scan stage).  Dup structure comes from
    synthesize_media's content_col seeding (doc_id % {mod} collides);
    the hex-string hash (md5(hex(payload))) is the engine-portable blob
    hash — DuckDB's md5 only takes VARCHAR, and both engines emit
    UPPERCASE hex for binary."""
    from pulsar_ingestion_spark.operators.multimodal import synthesize_media

    docs = load_tables(spark, sf_dir)["documents"]
    media = synthesize_media(
        docs.select(
            "doc_id", (F.col("doc_id") % _MM_DEDUP_MOD).alias("content_key")
        ),
        content_col="content_key",
    )
    return media.groupBy(
        F.md5(F.hex(F.col("payload"))).alias("content_hash")
    ).agg(
        F.min("media_id").cast("bigint").alias("canonical_media_id"),
        F.count(F.lit(1)).alias("dup_cnt"),
        F.max(F.length("payload")).cast("bigint").alias("byte_len"),
    )


_BOUNDARY_ORACLE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS rw
  FROM documents
), hd AS (
  SELECT doc_id,
         array_to_string(list_slice(rw, 1, 3), ' ') AS head3,
         array_to_string(list_slice(rw, len(rw) - 2, len(rw)), ' ') AS tail3
  FROM w WHERE len(rw) >= 6
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.tail3 AS boundary
FROM hd a JOIN hd b
  ON a.tail3 = b.head3 AND a.doc_id <> b.doc_id
"""


@query("dedup_boundary_overlap", oracle=_BOUNDARY_ORACLE)
def q_dedup_boundary_overlap(spark, sf_dir):
    """Chunk-boundary overlap detector: document pairs where A's LAST
    3 words equal B's FIRST 3 words — the signature of a document split
    into overlapping chunks (or of sliding-window extraction), which
    near-dup Jaccard misses entirely (3 shared words out of hundreds).
    In a training-data pipeline these pairs drive chunk REASSEMBLY or
    overlap trimming rather than drop-one dedup.  Plan: one narrow pass
    computes (head3, tail3) per doc, then a tail→head hash equi-join —
    boundary keys are ~3-word strings, so the join is |docs| rows a
    side with tiny keys; never all-pairs.  Docs under 6 words are
    excluded (head and tail would overlap each other)."""
    docs = fan_out(load_tables(spark, sf_dir)["documents"], spark)
    rw = F.split(F.trim(F.lower("text")), r"\s+")
    hd = (
        docs.select("doc_id", rw.alias("rw"))
        .filter(F.size("rw") >= 6)
        .select(
            "doc_id",
            F.array_join(F.slice("rw", 1, 3), " ").alias("head3"),
            F.array_join(F.slice(F.col("rw"), F.size("rw") - 2, 3), " ").alias("tail3"),
        )
    )
    a, b = hd.alias("a"), hd.alias("b")
    return a.join(
        b,
        (F.col("a.tail3") == F.col("b.head3"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.tail3").alias("boundary"),
    )


# ---------------------------------------------------------------------------
# Round 11 session 5: IVF recall-vs-nprobe sweep — the tuning table an ANN
# deployment reads before picking its probe budget (ROADMAP r11 adjacency).

def _ivf_recall_sweep_oracle(n_cells: int, max_np: int, k: int) -> str:
    d2 = """list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1),
      i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
         * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (x,y) -> x+y)"""
    cos = f"""round({_KNN_DOT.format(a='p.qv', b='a.vec')}
      / (sqrt({_KNN_DOT.format(a='p.qv', b='p.qv')})
       * sqrt({_KNN_DOT.format(a='a.vec', b='a.vec')})), 6)"""
    ecos = f"""round({_KNN_DOT.format(a='q.embedding', b='c.embedding')}
      / (sqrt({_KNN_DOT.format(a='q.embedding', b='q.embedding')})
       * sqrt({_KNN_DOT.format(a='c.embedding', b='c.embedding')})), 6)"""
    return f"""
    WITH cents AS (
      SELECT vec_id AS cell, embedding AS cvec FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_cells}
    ), assigned AS (
      SELECT vec_id, vec, cell FROM (
        SELECT e.vec_id, e.embedding AS vec, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2.format(a='e.embedding', b='c.cvec')}, c.cell) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS qid, qv, cell, rn FROM (
        SELECT e.vec_id, e.embedding AS qv, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2.format(a='e.embedding', b='c.cvec')}, c.cell) AS rn
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id < 20
      ) WHERE rn <= {max_np}
    ), scored AS (
      SELECT p.qid, a.vec_id AS cand_id, p.rn, {cos} AS cos_sim
      FROM probes p JOIN assigned a ON p.cell = a.cell AND p.qid <> a.vec_id
    ), nps AS (
      SELECT CAST(np AS BIGINT) AS nprobe FROM (VALUES (1), (2), (4)) t(np)
    ), ivf AS (
      SELECT nprobe, qid AS query_id, cand_id FROM (
        SELECT n.nprobe, s.qid, s.cand_id,
               row_number() OVER (PARTITION BY n.nprobe, s.qid
                                  ORDER BY s.cos_sim DESC, s.cand_id) AS rank
        FROM scored s JOIN nps n ON s.rn <= n.nprobe
      ) WHERE rank <= {k}
    ), exact AS (
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {ecos} DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 20
      ) WHERE rank <= {k}
    ), et AS (
      SELECT CAST(count(*) AS BIGINT) AS tot FROM exact
    )
    SELECT i.nprobe,
           CAST(count(*) AS BIGINT) AS retrieved,
           CAST(count(e.query_id) AS BIGINT) AS hits,
           CAST(count(e.query_id) AS DOUBLE) / min(et.tot) AS recall
    FROM ivf i CROSS JOIN et
    LEFT JOIN exact e ON i.query_id = e.query_id AND i.cand_id = e.cand_id
    GROUP BY i.nprobe
    """


@query("sim_search_ivf_recall_sweep", oracle=_ivf_recall_sweep_oracle(16, 4, 5))
def q_sim_search_ivf_recall_sweep(spark, sf_dir):
    """Recall@k of the seeded-IVF search at nprobe in {1, 2, 4} against
    the exact brute-force top-k — the probe-budget tuning table.  One
    centroid subsample (model-sized collect), ONE cell-assignment pass
    (the shared Arrow argmin kernel), ONE probing pass at max nprobe
    keeping the probe rank, ONE cosine-scoring pass; each budget's
    candidate set is then just ``probe_rank <= nprobe`` (a 3-row
    broadcast theta join), so the sweep costs one search plus cheap
    re-windows, not three searches.  Recall is a raw quotient of exact
    match counts over the exact-top-k total (never round a raw
    quotient); top-k sets tie-break on candidate id in both engines, so
    membership — all the aggregate sees — is hash-stable."""
    from pulsar_ingestion_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_probe_cells,
        knn_bruteforce,
        rerank_score,
        seeded_centroids,
        top_k,
    )

    emb = fan_out(load_tables(spark, sf_dir)["embeddings"], spark)
    q = emb.filter(F.col("vec_id") < 20)
    cents = seeded_centroids(emb, 16)
    scored = rerank_score(ivf_probe_cells(q, cents, 4), ivf_assign_cells(emb, cents), "cell")
    nps = spark.createDataFrame([(1,), (2,), (4,)], "nprobe: bigint")
    swept = scored.join(F.broadcast(nps), F.col("probe_rank") <= F.col("nprobe"))
    ivf = top_k(swept, 5, "nprobe").select("nprobe", "query_id", "cand_id")
    exact = knn_bruteforce(q, emb, k=5).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    et = exact.agg(F.count(F.lit(1)).cast("bigint").alias("tot"))
    return (
        ivf.join(exact, ["query_id", "cand_id"], "left")
        .crossJoin(F.broadcast(et))
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("retrieved"),
            F.count("hit").cast("bigint").alias("hits"),
            (F.count("hit").cast("double") / F.min("tot")).alias("recall"),
        )
    )


_STUPID_BACKOFF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), tr_uni AS (
  SELECT unnest(t) AS w FROM toks WHERE doc_id % 7 <> 0
), uni AS (
  SELECT w, count(*) AS cnt FROM tr_uni GROUP BY w
), nn AS (
  SELECT SUM(cnt) AS n FROM uni
), bi AS (
  SELECT a, b, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS a,
           unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS b
    FROM toks WHERE doc_id % 7 <> 0 AND len(t) >= 2
  ) GROUP BY a, b
), tri AS (
  SELECT w1, w2, w3, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(t) - 1), i -> t[i])) AS w1,
           unnest(list_transform(range(1, len(t) - 1), i -> t[i + 1])) AS w2,
           unnest(list_transform(range(1, len(t) - 1), i -> t[i + 2])) AS w3
    FROM toks WHERE doc_id % 7 <> 0 AND len(t) >= 3
  ) GROUP BY w1, w2, w3
), test AS (
  SELECT doc_id, w1, w2, w3, count(*) AS tf FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1), i -> t[i])) AS w1,
           unnest(list_transform(range(1, len(t) - 1), i -> t[i + 1])) AS w2,
           unnest(list_transform(range(1, len(t) - 1), i -> t[i + 2])) AS w3
    FROM toks WHERE doc_id % 7 = 0 AND len(t) >= 3
  ) GROUP BY doc_id, w1, w2, w3
), scored AS (
  SELECT te.doc_id, te.tf,
         CASE
           WHEN t3.cnt IS NOT NULL
             THEN CAST(t3.cnt AS DOUBLE) / bctx.cnt
           WHEN b23.cnt IS NOT NULL
             THEN CAST(0.4 AS DOUBLE) * b23.cnt / u2.cnt
           WHEN u3.cnt IS NOT NULL
             THEN CAST(0.16 AS DOUBLE) * u3.cnt / nn.n
         END AS s
  FROM test te
  LEFT JOIN tri t3 ON t3.w1 = te.w1 AND t3.w2 = te.w2 AND t3.w3 = te.w3
  LEFT JOIN bi bctx ON bctx.a = te.w1 AND bctx.b = te.w2
  LEFT JOIN bi b23 ON b23.a = te.w2 AND b23.b = te.w3
  LEFT JOIN uni u2 ON u2.w = te.w2
  LEFT JOIN uni u3 ON u3.w = te.w3
  CROSS JOIN nn
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_trigrams,
       CAST(SUM(CASE WHEN s IS NULL THEN tf ELSE 0 END) AS BIGINT)
         AS n_unscored,
       CAST(SUM(CASE WHEN s IS NULL THEN NULL
                ELSE tf * CAST(round(-log2(s), 6) AS DECIMAL(18,6)) END)
            AS DOUBLE) AS total_neg_log2s
FROM scored GROUP BY doc_id
"""


@query("text_trigram_stupid_backoff", oracle=_STUPID_BACKOFF_ORACLE)
def q_text_trigram_stupid_backoff(spark, sf_dir):
    """Trigram stupid-backoff scoring (Brants et al. 2007 — the
    large-LM scoring scheme that skips discounting) of a held-out doc
    slice (doc_id % 7 == 0) against counts from the rest: S(w3|w1 w2) =
    c(w1w2w3)/c(w1w2), backing off to 0.4·c(w2w3)/c(w2), then to
    0.16·c(w3)/N; trigrams whose unigram is unseen stay unscored (their
    tf is reported).  One LM order above text_bigram_logprob and the
    held-out form a quality-scoring pipeline actually runs (self-scored
    corpora never back off).  Plan: train-side count tables collapse to
    vocabulary-sized relations keyed by xxhash64 (broadcast candidates;
    the oracle joins strings); the test side collapses once to
    (doc, trigram, tf); five hash left-joins; per-term round6+decimal
    sums keep the fold order-free (registry parity rules)."""
    docs = load_tables(spark, sf_dir)["documents"]  # no fan_out (r13)
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    tri_struct = (
        "transform(sequence(1, size(t) - 2), i -> struct("
        "element_at(t, i) AS w1, element_at(t, i + 1) AS w2, "
        "element_at(t, i + 2) AS w3))"
    )
    empty_tri = "array<struct<w1:string,w2:string,w3:string>>"

    def trigrams(rel):
        return rel.select(
            "doc_id",
            F.explode(
                F.when(F.size("t") >= 3, F.expr(tri_struct))
                .otherwise(F.array().cast(empty_tri))
            ).alias("g"),
        ).select("doc_id", "g.w1", "g.w2", "g.w3")

    train = toks.filter(F.col("doc_id") % 7 != 0)
    test = toks.filter(F.col("doc_id") % 7 == 0)

    uni = (
        train.select(F.explode("t").alias("w"))
        .groupBy(F.xxhash64("w").alias("uk"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nn = uni.agg(F.sum("cnt").alias("n"))
    bi = (
        train.filter(F.size("t") >= 2)
        .select(F.explode(F.expr(
            "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
            " (a, b) -> struct(a, b))"
        )).alias("p"))
        .groupBy(F.xxhash64("p.a", "p.b").alias("bk"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tri = (
        trigrams(train)
        .groupBy(F.xxhash64("w1", "w2", "w3").alias("tk"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    te = trigrams(test).groupBy("doc_id", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("tf")
    ).select(
        "doc_id", "tf",
        F.xxhash64("w1", "w2", "w3").alias("tk"),
        F.xxhash64("w1", "w2").alias("ck"),
        F.xxhash64("w2", "w3").alias("bk23"),
        F.xxhash64("w2").alias("uk2"),
        F.xxhash64("w3").alias("uk3"),
    )
    j = (
        te.join(tri, "tk", "left")
        .join(bi.select(F.col("bk").alias("ck"), F.col("cnt").alias("cnt_ctx")),
              "ck", "left")
        .join(bi.select(F.col("bk").alias("bk23"), F.col("cnt").alias("cnt_23")),
              "bk23", "left")
        .join(uni.select(F.col("uk").alias("uk2"), F.col("cnt").alias("cnt_w2")),
              "uk2", "left")
        .join(uni.select(F.col("uk").alias("uk3"), F.col("cnt").alias("cnt_w3")),
              "uk3", "left")
        .crossJoin(F.broadcast(nn))
    )
    s = (
        F.when(F.col("cnt").isNotNull(),
               F.col("cnt").cast("double") / F.col("cnt_ctx"))
        .when(F.col("cnt_23").isNotNull(),
              F.lit(0.4) * F.col("cnt_23") / F.col("cnt_w2"))
        .when(F.col("cnt_w3").isNotNull(),
              F.lit(0.16) * F.col("cnt_w3") / F.col("n"))
    )
    scored = j.select("doc_id", "tf", s.alias("s"))
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_trigrams"),
        F.sum(F.when(F.col("s").isNull(), F.col("tf")).otherwise(0))
        .cast("bigint").alias("n_unscored"),
        F.sum(
            F.when(
                F.col("s").isNotNull(),
                F.col("tf") * F.round(-F.log2("s"), 6).cast("decimal(18,6)"),
            )
        ).cast("double").alias("total_neg_log2s"),
    )
