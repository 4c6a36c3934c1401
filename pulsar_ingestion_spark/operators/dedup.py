"""Deduplication operators over the `documents` table — exact and near-dup.

The scale story (100 TB of documents):
  * exact / fingerprint dedup is one hash-shuffle on a 32-byte key —
    group-by md5, keep the min doc_id per group;
  * MinHash LSH reduces near-dup detection from O(n²) to
    candidate-pairs-per-band: shingle → minhash signature → band buckets →
    equi-join on (band, bucket) — only co-bucketed docs are compared;
  * SimHash gives a 32/64-bit signature whose Hamming neighborhoods are
    join keys — cheapest per-doc state;
  * n-gram Jaccard (exact) is the verifier on LSH candidates, never run
    all-pairs at scale.

Everything below is built-ins (explode/join/groupBy) or MLlib; no Python
row loops.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.text import doc_fingerprint, shingles, words
from pulsar_ingestion_spark.operators.iterate import ConvergenceError, fixpoint, same_count  # noqa: F401
from pulsar_ingestion_spark.operators.sketch import md5_lane


# Persisted intermediates created by the operators below (signature /
# shingle relations materialized before banding — the round-8 re-plan).
# They are deliberately NOT unpersisted inside the operator: the returned
# DataFrame's plan still reads them, so the terminal action needs them
# live.  CALLERS OWN CLEANUP (ADVICE r8): after the terminal action, call
# :func:`release_cached_intermediates` (or ``spark.catalog.clearCache()``)
# — bench.py does this between phases — so a long-lived session running
# many queries doesn't accumulate dead cached relations.
_PERSISTED: list[DataFrame] = []
_PERSISTED_LOCK = threading.Lock()


def _still_cached(df: DataFrame) -> bool:
    try:
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk
    except Exception:  # session torn down — nothing to release
        return False


def _tracked_persist(df: DataFrame) -> DataFrame:
    df.persist()
    with _PERSISTED_LOCK:
        # opportunistic trim (ADVICE r9): entries freed out-of-band
        # (spark.catalog.clearCache(), session restart) would otherwise
        # pin dead DataFrame references forever in a long-lived session
        _PERSISTED[:] = [d for d in _PERSISTED if _still_cached(d)]
        _PERSISTED.append(df)
    return df


def release_cached_intermediates() -> int:
    """Unpersist every intermediate this module has persisted; returns
    how many were released.  Safe to call at any quiesce point — the
    next use of an operator simply re-persists."""
    with _PERSISTED_LOCK:
        drained, _PERSISTED[:] = list(_PERSISTED), []
    n = len(drained)
    for d in drained:
        d.unpersist()
    return n


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-content dedup groups: md5(text) → canonical (min-id) doc +
    duplicate count.  One shuffle on the digest."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_cnt"))
    )


def dedup_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Word-set fingerprint dedup: order-insensitive near-exact groups."""
    return (
        df.groupBy(doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_cnt"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing ≥1 shingle.

    Plan: explode distinct shingles → self equi-join on shingle (only
    co-occurring docs meet) → |A∩B| per pair → Jaccard via set sizes.
    The shingle join IS the candidate filter — all-pairs never materializes.
    At 100 TB: add a band/bucket stage (MinHash) before this as candidates.
    """
    # persisted: the explode below re-evaluates an un-materialized
    # generator input per output row (round-8 lesson — see
    # minhash_signatures), and both join sides read this relation
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("sh_size", F.size("sh"))
    sh = _tracked_persist(sh)
    # Join on a 64-bit hash of the shingle, not the string: ~8 bytes vs
    # ~(3 words) per shuffle key.  xxhash64 collisions (~1e-11 at millions
    # of distinct shingles) could at worst inflate one intersection count
    # by 1 — acceptable for a near-dup *detector*.
    exploded = sh.select(
        "id", "sh_size", F.explode(F.transform("sh", lambda g: F.xxhash64(g))).alias("gram_h")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.gram_h") == F.col("b.gram_h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh_size").alias("size_a"),
            F.col("b.sh_size").alias("size_b"),
        )
        .agg(F.count("*").alias("inter_cnt"))
    )
    # RAW quotient, never round(): a single IEEE division of identical
    # exact ints is bitwise-identical across engines, while round-to-6dp
    # splits on true representable halfway values (e.g. 81/128 =
    # 0.6328125 — Spark HALF_UP vs DuckDB round; the registry parity
    # rule, applied family-wide by the session-3 review finding #5)
    jac = F.col("inter_cnt") / (F.col("size_a") + F.col("size_b") - F.col("inter_cnt"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_candidate_pairs: int | None = 2_000_000_000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs from exhaustive co-shingle
    candidates:
    C(A,B) = |A∩B| / min(|A|,|B|) ≥ threshold — the one-sided near-dup
    detector (a small document embedded in a big one scores ~1 where
    Jaccard dilutes toward the size ratio; the classic quote/
    boilerplate-inclusion case in training-data dedup).

    This is the ORACLE-GRADE exact verifier (same stance as
    :func:`ngram_jaccard_pairs`): candidates are every co-shingle pair,
    whose volume is the DATA statistic Σ_g df(g)² — near-linear on
    Heaps'-law corpora (rare-shingle dfs stay stationary), quadratic on
    fixed-vocab/template corpora (measured 55× join volume at the 10×
    synth's 92%-degenerate vocabulary).  A min-side PPJoin prefix does
    NOT transfer to the min() denominator (the witness must be checked
    against the other side's FULL set — measured 8.6× SLOWER than this
    form at 10×, round 11), so the scale path is candidate BANDING:
    :func:`minhash_banded_containment` feeds band-bucket candidates to
    the same exact containment verify (LSH recall, precision 1).

    ``max_candidate_pairs`` guards the quadratic tail (VERDICT r11
    item 3): before the co-shingle self-join, one cheap aggregation
    computes the exact candidate volume Σ_g df(g)·(df(g)-1)/2 on the
    shingle relation; past the bound the operator raises with a pointer
    to the banded plan instead of launching an un-finishable join.
    Pass ``None`` to skip the pre-check (oracle-verifier mode on a
    corpus you already know)."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("sh_size", F.size("sh"))
    sh = _tracked_persist(sh)
    exploded = sh.select(
        "id", "sh_size", F.explode(F.transform("sh", lambda g: F.xxhash64(g))).alias("gram_h")
    )
    if max_candidate_pairs is not None:
        # Σ df·(df-1)/2 — exact row count of the id<id co-shingle join;
        # one groupBy + sum, driver traffic is a single scalar
        cand = (
            exploded.groupBy("gram_h").agg(F.count("*").alias("df"))
            .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("pairs"))
            .first()["pairs"]
        )
        if cand is not None and cand > max_candidate_pairs:
            raise ValueError(
                f"ngram_containment_pairs: exact co-shingle candidate "
                f"volume {int(cand):,} exceeds max_candidate_pairs="
                f"{max_candidate_pairs:,} — the exact verifier is "
                f"quadratic on template/fixed-vocab corpora (SCALE.md "
                f"§6t).  Use minhash_banded_containment "
                f"(dedup_containment_banded) or "
                f"lsh_ensemble_containment for the scale path, or pass "
                f"max_candidate_pairs=None to force."
            )
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.gram_h") == F.col("b.gram_h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh_size").alias("size_a"),
            F.col("b.sh_size").alias("size_b"),
        )
        .agg(F.count("*").alias("inter_cnt"))
    )
    # raw quotient — see ngram_jaccard_pairs (halfway-round rule)
    cont = F.col("inter_cnt") / F.least("size_a", "size_b")
    return (
        inter.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def _banded_candidates(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    n: int,
    num_bands: int,
    hash: str,
    seeds: list | None,
):
    """Shared banded-candidate stage of minhash_banded_pairs /
    minhash_banded_containment (round-11 review finding #5 — one band
    fold definition so a hash-family fix can't desynchronize the two
    verifiers): persisted signatures -> per-family band folds ->
    (band, bval) equi-join -> distinct (id_a, id_b) candidates.
    Returns (sigs, cand)."""
    seeds = MINHASH_SEEDS if seeds is None else seeds
    if len(seeds) < 2 * num_bands:
        raise ValueError(f"need >= {2 * num_bands} seeds for {num_bands} bands of 2")
    sigs = _tracked_persist(
        minhash_signatures(df, id_col, text_col, n=n, hash=hash, seeds=seeds)
    )
    if hash == "md5":
        bvals = [
            F.concat(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))
            for b in range(num_bands)
        ]
    elif hash == "km_md5":
        # both member signatures are < 2^31 (27-bit lanes + 7x multiplier
        # headroom), so one long holds the pair exactly — 8-byte shuffle
        # keys, engine-portable as (sig<<31) + sig in DuckDB too
        bvals = [
            F.shiftleft(F.col(f"sig_{2 * b}"), 31) + F.col(f"sig_{2 * b + 1}")
            for b in range(num_bands)
        ]
    else:
        bvals = [
            F.xxhash64(F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))
            for b in range(num_bands)
        ]
    bands = sigs.select(
        "doc_id", F.posexplode(F.array(*bvals)).alias("band", "bval")
    )
    a, b = bands.alias("a"), bands.alias("b")
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
    return sigs, cand


def _containment_verify(
    sigs: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Shared exact-containment verify over (id_a, id_b) candidates
    (session-3 review finding #3 — ONE verify definition for the
    single-class and ensemble operators, the same anti-drift stance as
    :func:`_banded_candidates`): join the shingle sets back, compute
    |A∩B| / min(|A|,|B|) and keep pairs at or above ``threshold``."""
    wx = sigs.select(F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    wy = sigs.select(F.col("doc_id").alias("id_b"), F.col("w").alias("wb"))
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    # raw quotient — see ngram_jaccard_pairs (halfway-round rule)
    cont = inter / F.least(F.size("wa"), F.size("wb"))
    return (
        cand.join(wx, "id_a")
        .join(wy, "id_b")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_banded_containment(

    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bands: int = 4,
    threshold: float = 0.6,
    hash: str = "md5",
    seeds: list[str] | None = None,
) -> DataFrame:
    """Banded-MinHash candidates + exact CONTAINMENT verify — the scale
    path for :func:`ngram_containment_pairs` (the naive co-shingle
    candidate join is quadratic on template corpora; banding bounds
    candidates at ``num_bands`` shuffle keys per doc regardless of df
    skew).  Every emitted pair is a true C ≥ threshold pair (precision
    1); recall is the band stage's, which is JACCARD-biased — a tiny
    doc inside a huge one has high containment but low Jaccard, so its
    band-collision odds are low (the LSH-Ensemble size-class refinement
    is the known fix; this operator takes the single-class form).
    Plan shape identical to :func:`minhash_banded_pairs` with the
    verify formula swapped to |A∩B| / min(|A|,|B|)."""
    sigs, cand = _banded_candidates(df, id_col, text_col, n, num_bands, hash, seeds)
    return _containment_verify(sigs, cand, threshold)


# Canonical portable minhash seed set (also used by the queries_llm
# oracles, which re-derive the same md5 signatures in DuckDB).
MINHASH_SEEDS = ["s0", "s1", "s2", "s3", "s4", "s5", "s6", "s7"]

# LSH-Ensemble size-class ladder (ratio-4 geometric classes on the
# DISTINCT-shingle count).  Integer comparisons only — bit-identical in
# both engines (a log2/floor ladder would ride libm rounding near the
# class boundaries; see the registry's no-engine-transcendentals rule).
SIZE_CLASS_BOUNDS = (4, 16, 64, 256, 1024)

# deterministic hot-bucket cap for the ensemble's r=1 band family (the
# _cooc_edges hub-cap precedent; measured no-op at sf0.001/0.01/0.1
# where the largest cell is 14).  Sized from the 30x decomposition:
# cap 64 still let hot min-hash buckets emit 16.9M cross-class
# candidates (cap^2 per class pair), whose exact verify dominated the
# whole query at 28.7 s for 238 true pairs; cap 24 bounds the same
# buckets at ~14% of that volume.  Members survive in PORTABLE-HASH
# order (md5 of doc_id), not id order — pseudorandom deterministic, no
# systematic bias toward low ids.
ENSEMBLE_BUCKET_CAP = 24


def _ecap_order(id_col):
    """Deterministic pseudorandom cap order: the portable md5 bigint lane
    of the doc id (mirrored verbatim in the DuckDB oracle)."""
    return md5_lane(id_col, "ecap:")


def _size_class(sz_col):
    """Ratio-4 size class of a shingle-set size column (0..len(bounds))."""
    expr = F.lit(len(SIZE_CLASS_BOUNDS))
    for cls in range(len(SIZE_CLASS_BOUNDS) - 1, -1, -1):
        expr = F.when(sz_col < SIZE_CLASS_BOUNDS[cls], cls).otherwise(expr)
    return expr


def minhash_ensemble_containment(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bands: int = 4,
    threshold: float = 0.6,
    seeds: list[str] | None = None,
) -> DataFrame:
    """LSH-Ensemble-style banded containment: the size-class refinement
    of :func:`minhash_banded_containment` (Zhu et al., VLDB 2016 —
    "LSH Ensemble: Internet-Scale Domain Search", adapted from the
    partitioned-index form to a self-join dedup).

    The single-class band stage is JACCARD-tuned: a pair with containment
    C = |A∩B|/min and size ratio s = max/min has Jaccard
    J = C/(1/ min share) ≈ C/(s + 1 − C), so a small doc quoted inside a
    much larger one (the exact case containment exists for) almost never
    collides in an r=2 band (P = 1−(1−J²)^b).  Fix: docs are assigned a
    RATIO-4 SIZE CLASS on their distinct-shingle count, and candidates
    come from TWO band families over the same signature pass:

    * same-class pairs — the r=2 folded bands (exactly the single-class
      pipeline): within a class the size ratio is ≤4, so the induced
      Jaccard at C ≥ 0.6 is ≥ 0.13 and the folded bands carry recall;
    * cross-class pairs — r=1 bands (each signature is its own band),
      joined ONLY where the classes differ: P(collide) = 1−(1−J)^k beats
      1−(1−J²)^b by an order of magnitude at the small J a size-skewed
      containment pair induces (J = 0.15: 73% vs 9% at k=8, b=4).  The
      class-difference predicate is what keeps r=1 affordable — within a
      class the cheap r=2 family already covers, so the high-collision
      family never fires on the (dominant) same-class bucket volume.

    Both families feed ONE exact containment verify (precision 1);
    signatures are computed once (md5 family — the whole pipeline stays
    DuckDB-recomputable).  Candidates are a strict superset of the
    single-class operator's at the same (seeds, num_bands), so recall
    can only improve; the measured catch is the cross-class
    quote-inclusion pair the single-class stage drops (see
    tests/test_round11_invariants.py)."""
    seeds = MINHASH_SEEDS if seeds is None else seeds
    # family 1: r=2 folded bands (same-class pairs ride these; the join
    # itself is unrestricted — _banded_candidates IS the single-class
    # operator's candidate stage, shared so a band-fold fix can't
    # desynchronize the two containment verifiers; session-3 review
    # finding #3)
    sigs, cand2 = _banded_candidates(df, id_col, text_col, n, num_bands, "md5", seeds)
    # family 2: r=1 single-signature bands, CROSS-CLASS pairs only.
    # Hot-bucket cap (measured, 30x leg): an r=1 bucket is "every doc
    # whose seed-i min-hash is this value" — popular shingles make its
    # size grow ~linearly with the corpus, so the uncapped self-join
    # grows quadratically (0.91/x at 10x -> 2.61/x at 30x).  Cap each
    # (band, bval, CLASS) cell at the ENSEMBLE_BUCKET_CAP smallest
    # doc_ids (deterministic, mirrored in the oracle — the _cooc_edges
    # hub-cap precedent): per-class capping preserves cross-class
    # pairing inside hot buckets while bounding their pair volume at
    # cap^2 per class pair; a no-op at the oracle test SFs' bucket
    # sizes.
    bands1 = sigs.select(
        "doc_id",
        _size_class(F.size("w")).alias("cls"),
        F.posexplode(F.array(*[F.col(f"sig_{i}") for i in range(len(seeds))])).alias(
            "band", "bval"
        ),
    )
    capw = Window.partitionBy("band", "bval", "cls").orderBy(
        _ecap_order(F.col("doc_id")), "doc_id"
    )
    # persisted: BOTH sides of the self-join read the capped relation —
    # without it the cap window (shuffle + per-cell sort) runs twice
    bands1 = _tracked_persist(
        bands1.withColumn("rn", F.row_number().over(capw))
        .filter(F.col("rn") <= ENSEMBLE_BUCKET_CAP)
        .drop("rn")
    )
    a1, b1 = bands1.alias("a"), bands1.alias("b")
    cand1 = a1.join(
        b1,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bval") == F.col("b.bval"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.cls") != F.col("b.cls")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    cand = cand2.union(cand1).distinct()
    return _containment_verify(sigs, cand, threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hash: str = "md5",
    seeds: list[str] | None = None,
) -> DataFrame:
    """Per-doc MinHash signatures over ``n``-gram shingles:
    ``(doc_id, w, sig_0..sig_{k-1})`` for k = len(seeds).

    ``hash`` picks the minhash family (VERDICT r7 item 4):

    * ``"md5"`` — engine-portable hex digests, recomputable in DuckDB;
      the oracle-checked path (dedup_minhash_banded, text_dedup_cascade).
      Cost: k MessageDigest calls + hex materialization PER SHINGLE —
      measured ~800 md5/doc on the banded pipeline, the dominant CPU at
      the 10× scale point (SCALE.md §6f).
    * ``"xxhash64"`` — Spark's codegen'd 64-bit hash, seeded per signature
      via a literal prefix column: one JVM-native long op per shingle, no
      string round-trip.  Use for engine-side blocking when the oracle
      compares plain values or rows-only (precedent: text_line_dedup,
      text_bigram_logprob's xxhash64 shuffle keys).

    Evaluation plan (round-8 scale fix, measured at the 10× point): the
    naive form — k × ``array_min(transform(w, hash))`` — runs every hash
    in Spark's INTERPRETED higher-order-function evaluator (~20M lambda
    dispatches at 50k docs × 52 shingles × 8 seeds; 12–17 s wall on 32
    cores, the dominant stage of the whole LSH pipeline).  Instead the
    shingle array is materialized once, EXPLODED (explode of an
    attribute is cheap; explode of an un-materialized expression
    re-evaluates it per output row), and the k minhashes come from k
    ``min(hash(...))`` aggregates over the exploded rows — whole-stage
    codegen the entire way, one shuffle on doc_id, then one join back
    to re-attach the shingle set.  Values are IDENTICAL to the naive
    form (same hash of the same strings), so the md5 family's DuckDB
    oracles are unchanged.  Measured: 12.5 s → ~2 s (md5) at 10× sf0.1.
    """
    if hash not in ("md5", "xxhash64", "km", "km_md5"):
        raise ValueError(f"unknown minhash hash family {hash!r}")
    seeds = MINHASH_SEEDS if seeds is None else seeds
    base = _tracked_persist(df.select(
        F.col(id_col).alias("doc_id"),
        shingles(F.col(text_col), n).alias("w"),
    ))

    exploded = base.select("doc_id", F.explode_outer("w").alias("g"))
    if hash == "km_md5":
        # Portable Kirsch-Mitzenmacher (VERDICT r10 item 1b): k minhash
        # functions from TWO md5-derived lanes — g_i(x) = h1(x) + i·h2(x),
        # where h1/h2 are `md5_lane`s (the repo's canonical portable
        # hash, operators/sketch.py) masked to 27 bits so every
        # derived value stays < 2^31 and a band fold of two signatures
        # (`sig<<31 | sig`) stays < 2^62 — no overflow in either engine.
        # Cost: 2 md5 per shingle instead of k (4× less digest CPU than
        # the 8-seed md5 family at k=8), long-typed signatures, and the
        # whole pipeline is DuckDB-recomputable:
        #   CAST(('0x'||substring(md5('km1:'||g),1,8)) AS BIGINT) & mask.
        mask = (1 << 27) - 1

        def _lane(seed: str):
            return md5_lane(F.col("g"), f"{seed}:").bitwiseAND(F.lit(mask))

        keyed = exploded.select("doc_id", _lane("km1").alias("h1"), _lane("km2").alias("h2"))
        sigs_flat = keyed.groupBy("doc_id").agg(
            *[F.min(F.col("h1") + i * F.col("h2")).alias(f"sig_{i}")
              for i in range(len(seeds))]
        )
        return base.join(sigs_flat, "doc_id")
    if hash == "km":
        # Kirsch-Mitzenmacher: k minhash functions from TWO codegen
        # hashes — g_i(x) = h1(x) + i·h2(x), both masked to 31 bits so
        # the arithmetic can never overflow a long under ANSI mode
        # (h1 + 7·h2 < 2^34).  The standard double-hashing result says
        # the family behaves like k independent hashes for
        # Bloom/minhash purposes; the verify stage keeps precision 1
        # regardless.  CPU: 2 hashes + k multiply-adds per shingle
        # instead of k hashes.
        mask = (1 << 31) - 1
        h1 = F.xxhash64(F.lit("km1"), F.col("g")).bitwiseAND(F.lit(mask))
        h2 = F.xxhash64(F.lit("km2"), F.col("g")).bitwiseAND(F.lit(mask))
        keyed = exploded.select("doc_id", h1.alias("h1"), h2.alias("h2"))
        sigs_flat = keyed.groupBy("doc_id").agg(
            *[F.min(F.col("h1") + i * F.col("h2")).alias(f"sig_{i}")
              for i in range(len(seeds))]
        )
        return base.join(sigs_flat, "doc_id")

    if hash == "md5":
        sigs = md5_minhashes(F.col("g"), seeds)
    else:
        sigs = [F.min(F.xxhash64(F.lit(s), F.col("g"))).alias(f"sig_{i}")
                for i, s in enumerate(seeds)]
    return base.join(exploded.groupBy("doc_id").agg(*sigs), "doc_id")


def md5_minhashes(g, seeds: list[str] | None = None) -> list:
    """The md5 MinHash family as aggregates over an exploded shingle
    column ``g``: ``sig_i = min(md5('<seed_i>:' || g))``.  The one Spark
    definition behind ``minhash_signatures(hash="md5")`` and the
    streaming dedup cascade's state (the DuckDB oracles spell the same
    md5 text)."""
    seeds = MINHASH_SEEDS if seeds is None else seeds
    return [F.min(F.md5(F.concat(F.lit(f"{s}:"), g))).alias(f"sig_{i}")
            for i, s in enumerate(seeds)]


def minhash_banded_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bands: int = 4,
    threshold: float = 0.35,
    hash: str = "md5",
    seeds: list[str] | None = None,
) -> DataFrame:
    """Banded MinHash LSH near-dup pairs, exact-Jaccard verified:
    signatures → ``num_bands`` bands of 2 → candidates share ≥1 band →
    shingle-Jaccard ≥ ``threshold`` → ``(id_a, id_b, jaccard)``.

    The band equi-join IS the candidate filter (``num_bands`` shuffle
    keys per doc); the verify join touches only surviving pairs — never
    all-pairs.  With ``hash="md5"`` this is exactly the
    dedup_minhash_banded pipeline (hex-concat band values); with
    ``hash="xxhash64"`` band values fold the two member signatures into
    one long (8-byte shuffle keys instead of 64-char strings), trading
    oracle portability for hash CPU — the output is still PRECISE
    (every emitted pair is exact-verified); only recall is
    family-dependent.

    The signature relation is PERSISTED before banding (round-8 fix,
    measured at the 10× scale point): ``posexplode`` re-evaluates its
    input expression per OUTPUT row, so un-materialized signatures cost
    ~num_bands× the signature work in the band stage — and the band
    self-join plus the two verify joins would each recompute them
    again.  One materialization makes every downstream consumer read
    attribute columns instead (band stage wall at 10× sf0.1: 14 s →
    <1 s).  At cluster scale the same barrier is a bucketed staging
    table on doc_id.
    """
    sigs, cand = _banded_candidates(df, id_col, text_col, n, num_bands, hash, seeds)
    wx = sigs.select(F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    wy = sigs.select(F.col("doc_id").alias("id_b"), F.col("w").alias("wb"))
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    # raw quotient — see ngram_jaccard_pairs (halfway-round rule)
    jac = inter / (F.size("wa") + F.size("wb") - inter)
    return (
        cand.join(wx, "id_a")
        .join(wy, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_minhash_lsh(
    df: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    num_hash_tables: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-dup candidates (MLlib): shingle → hashed term
    vector → MinHash signatures → approx similarity join on banded buckets.

    Returns (id_a, id_b, jaccard_distance) pairs under the distance
    threshold.  Deterministic for a fixed seed.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"))
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(sh).filter(F.expr("size(sh) > 0"))
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
        )
    )


def _md5_nibble_bit(i: int, j: int):
    """Closure factory (HOF arity trap: default-arg lambdas are introspected
    as (element, index)): predicate "bit ``j`` of hex nibble ``i`` of an
    md5-hex string is set".  The nibble value is recovered from the char
    code (`'0'..'9'` → 48-57, `'a'..'f'` → 97-102) — ascii/substring are
    engine-portable, so a DuckDB oracle can recompute the identical bit via
    ``instr('0123456789abcdef', substr(h, i+1, 1)) - 1``.
    """

    def pred(h):
        a = F.ascii(F.substring(h, i + 1, 1))
        nib = F.when(a >= 97, a - 87).otherwise(a - 48)
        return F.shiftright(nib, j).bitwiseAND(F.lit(1)) == 1

    return pred


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash signature: per-bit majority vote over per-word hashes.

    Pure column expressions (one filter+size per bit over the word array);
    near-dups are found by the banded equi-join in
    :func:`simhash_near_dups` — never a signature cross join.

    ``portable=False`` (default engine path): bit ``k`` of ``xxhash64(word)``
    — one cheap JVM hash per word.  ``portable=True``: bit ``k`` = bit
    ``k%4`` of hex nibble ``k//4`` of ``md5(word)`` — one md5 per word
    (computed once, bits unpacked from the hex string), reproducible in any
    engine with md5, so the result is DuckDB-oracle-checkable the same way
    the md5 minhash signature is (VERDICT r2 item 2).  ``portable`` caps
    ``bits`` at 64 (16 nibbles × 4); use 32 to keep band values positive
    in engines without unsigned shifts.
    """
    w = F.array_distinct(words(F.lower(F.col(text_col))))
    sig = F.lit(0).cast("long")
    if portable:
        if bits > 64:
            raise ValueError("portable simhash supports at most 64 bits")
        hs = F.transform(w, lambda x: F.md5(x))
        for k in range(bits):
            ones = F.size(F.filter(hs, _md5_nibble_bit(k // 4, k % 4)))
            bit = (ones * 2 > F.size(w)).cast("long")
            sig = sig + F.shiftleft(bit, k)
    else:
        for k in range(bits):
            ones = F.size(
                F.filter(w, lambda x: F.shiftright(F.xxhash64(x), k).bitwiseAND(F.lit(1)) == 1)
            )
            bit = (ones * 2 > F.size(w)).cast("long")
            sig = sig + F.shiftleft(bit, k)
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — banded, never all-pairs.

    Pigeonhole blocking: the ``bits``-bit signature is split into
    ``max_hamming + 1`` contiguous bands; two signatures within Hamming
    distance ``max_hamming`` must agree EXACTLY on at least one band, so an
    equi-join on ``(band_idx, band_value)`` generates every qualifying pair
    (no recall loss) while only co-bucketed docs are ever compared.  The
    Hamming filter afterwards removes band-collision false positives and
    ``distinct`` collapses pairs that collide in several bands.

    At 100 TB this is ``max_hamming + 1`` shuffle keys per doc and a
    hash-partitioned equi-join — the same plan shape as the MinHash band
    join; bucket width = ``bits / (max_hamming + 1)`` bits (keep ≥ 8 by
    raising ``bits`` when loosening ``max_hamming``).
    """
    # persisted: the signature is a bits-wide fold of per-word hashes;
    # the band posexplode and both self-join sides would otherwise
    # recompute it (round-8 lesson — see minhash_signatures)
    sigs = _tracked_persist(simhash(df, text_col, id_col, bits, portable=portable))
    nbands = max_hamming + 1
    base, rem = divmod(bits, nbands)
    bands, off = [], 0
    for i in range(nbands):
        width = base + (1 if i < rem else 0)
        bands.append(
            F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(F.lit((1 << width) - 1))
        )
        off += width
    ex = sigs.select("id", "simhash", F.posexplode(F.array(*bands)).alias("band", "bval"))
    a, b = ex.alias("a"), ex.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dups_blas(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int | None = 8,
    num_tables: int = 4,
    seed: int = 42,
    exact_rescore: bool = False,
) -> DataFrame:
    """Bucketed block-matmul near-dup — no driver collect, no all-pairs join.

    ``num_tables`` independent sign-LSH signatures (random hyperplanes,
    deterministic — operators/similarity.py) each assign every vector to
    one of ``2^num_planes`` buckets; ``applyInPandas`` over
    ``(table, bucket)`` groups computes the full intra-block cosine matrix
    with a single ``np.dot`` per block (Arrow transfer, BLAS matmul).
    Pairs discovered in several tables collapse via ``dropDuplicates``.

    Scale shape at 100 TB: cost ≈ num_tables × Σ block², block ≈
    n / 2^num_planes — raise ``num_planes`` with data size so one block
    (block × dim × 8 bytes) fits an executor's Arrow group; the shuffle is
    a plain hash partition on (table, bucket).  Expected recall for a pair
    at cosine s is ``1 - (1 - p^num_planes)^num_tables`` with
    ``p = 1 - acos(s)/π`` — recall < 1 by design; the exact fold path
    :func:`embedding_near_dups` is the oracle-checked baseline and the
    recall fixture (tests/test_llm_ops.py).

    ``exact_rescore=True`` makes the OUTPUT engine-portable (VERDICT r2
    item 2): the matmul stays the candidate filter (with a 1e-6 threshold
    margin so borderline pairs survive), but each surviving pair's
    ``cos_sim`` is recomputed with the ordered-fold column expression
    (functions/vectors.py) and re-filtered — bit-identical to a DuckDB
    ``list_reduce`` fold, so the pair set + values hash-match an oracle
    that joins same-bucket pairs and applies the same fold.  Cost: two
    hash equi-joins on the (small) surviving pair set.
    """
    import numpy as np
    import pandas as pd

    block_threshold = threshold - 1e-6 if exact_rescore else threshold
    rows = emb.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("rvec"))
    if num_planes is None:
        from pulsar_ingestion_spark.operators.similarity import auto_num_planes

        # one count() against the scan: sizes 2^planes so the expected
        # block fits an executor's Arrow group (similarity.auto_num_planes)
        num_planes = auto_num_planes(rows.count())
    # Round 13: one Arrow pass computes every table's bucket (the old
    # per-table union scanned the source and crossed the Python boundary
    # num_tables times); posexplode recovers the (tbl, bucket) layout —
    # bucket values are bit-identical table by table.
    from pulsar_ingestion_spark.operators.similarity import signlsh_buckets_multi

    seeds = [seed + 7919 * t for t in range(num_tables)]
    bt = signlsh_buckets_multi(
        rows, dim, num_planes, seeds, id_col="rid", vec_col="rvec"
    )
    tables = bt.select(
        F.posexplode("buckets").alias("tbl", "bucket"), "id", "vec"
    )

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "cos_sim": np.array([], dtype=np.float64),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["id"].to_numpy()
        mat = np.array(list(pdf["vec"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        s = sims[iu, ju]
        keep = s >= block_threshold
        if not keep.any():
            return empty
        ia, jb, s = ids[iu[keep]], ids[ju[keep]], s[keep]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, jb),
                "id_b": np.maximum(ia, jb),
                "cos_sim": s,
            }
        )

    out = tables.groupBy("tbl", "bucket").applyInPandas(
        _block, schema="id_a long, id_b long, cos_sim double"
    )
    pairs = out.dropDuplicates(["id_a", "id_b"])
    if not exact_rescore:
        return pairs
    from pulsar_ingestion_spark.functions.vectors import cosine_rounded

    ea = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    eb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        pairs.drop("cos_sim")
        .join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos_sim", cosine_rounded(F.col("va"), F.col("vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (sim ≥ threshold, rounded).

    Brute-force O(n²) self-join — correct baseline; the scale path buckets
    by LSH/IVF first (see operators/similarity.py) so the join is per-bucket.
    """
    from pulsar_ingestion_spark.functions.vectors import dot, norm

    # Precompute per-vector norms ONCE (O(n) dots) so each of the O(n²)
    # pairs costs a single dot product — 3x less fold work than the naive
    # cosine(a,b) per pair.  Same IEEE expression values, same oracle.
    sides = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).withColumn(
        "n", norm(F.col("v"))
    )
    a = sides.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = sides.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    cos = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def near_dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    strict: bool = True,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every doc gets
    ``cluster_id`` = the minimum doc id reachable through pairs (its own id
    for singletons) — the "keep one per cluster" step of corpus dedup.

    Iterative min-label propagation: each round unions own labels with
    neighbor labels and takes the per-node min — one equi-join shuffle +
    one partial-agg shuffle per round.  Near-dup graphs are clique-dense
    (duplicate groups), so convergence is typically 3-5 rounds; the loop
    stops when NO node's label changed this round — an exact change-count
    taken inside the round's own aggregate (``min(label)`` beside the
    node's own label), not a label-sum signature.  Rounds run on
    :func:`~pulsar_ingestion_spark.operators.iterate.fixpoint`.  At 100 TB
    this is the standard Spark CC shape (cf. GraphFrames/large-star
    small-star); the pair graph is orders of magnitude smaller than the
    corpus.

    ``strict=True`` raises :class:`ConvergenceError` if ``max_iters`` is
    exhausted while labels are still moving (the result would be wrong);
    ``strict=False`` downgrades that to a warning.
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).persist()  # every round joins it; filled by round 1's checkpoint job

    def _round(labels, _):
        neigh = edges.join(labels, edges["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "label", F.lit(False).alias("own")
        )
        return (
            labels.withColumn("own", F.lit(True))
            .unionByName(neigh)
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("own"), F.col("label"))).alias("old"),
            )
        )

    try:
        labels = fixpoint(
            nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label")),
            _round,
            lambda prev, cur: cur.m["changed"] == 0,
            probe=(F.count_if(F.col("label") != F.col("old")).alias("changed"),),
            max_iters=max_iters,
            strict=strict,
            what="near_dup_clusters: labels still changing",
        )
    finally:
        edges.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def near_dup_clusters_lss(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
    strict: bool = True,
) -> DataFrame:
    """Connected components by large-star / small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    same contract as :func:`near_dup_clusters` (every node labelled with
    the minimum reachable id), different convergence behavior.

    Min-label propagation needs O(diameter) rounds: fine for clique-dense
    duplicate clusters (diameter ~2), quadratic pain on chain-shaped
    graphs (e.g. templated boilerplate where A~B~C but not A~C).  The
    star operations contract paths doubly-exponentially — O(log^2 n)
    rounds worst-case — so this is the scale path when cluster shapes are
    unknown.

    Per round: two groupBy-min shuffles over the (shrinking) edge list +
    a distinct; edges only ever point to smaller labels, so the edge set
    is bounded by the input.  Convergence = edge SET stable, checked
    exactly: same count AND an empty one-direction set difference
    (``exceptAll …limit(1)`` — both sides are distinct edge sets, so
    count-equality plus one empty difference implies equality).  No
    hash/sum signature — a wrapped-mod-2^64 sum can false-converge on
    large id spaces (ADVICE r2).  Rounds run on
    :func:`~pulsar_ingestion_spark.operators.iterate.fixpoint`.
    ``strict=True`` raises :class:`ConvergenceError` when ``max_iters``
    is exhausted before stability.
    """
    e = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))

    def _round(edges, _):
        # large-star: every neighbor v > u links to m(u) = min(N(u) + {u})
        m = edges.groupBy("u").agg(F.min("v").alias("minv"))
        m = m.select("u", F.least("minv", "u").alias("m"))
        large = (
            edges.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every neighbor v <= u (plus u itself) links to m(u)
        small_src = edges.filter(F.col("v") < F.col("u"))
        ms = small_src.groupBy("u").agg(F.min("v").alias("minv"))
        ms = ms.select("u", F.least("minv", "u").alias("m"))
        small = (
            small_src.join(ms, "u")
            .select(F.col("v").alias("vv"), F.col("m"))
            .unionByName(ms.select(F.col("u").alias("vv"), F.col("m")))
            .filter(F.col("vv") != F.col("m"))
            .select(F.col("vv").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        return (
            large.unionByName(small)
            .unionByName(large.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .unionByName(small.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )

    edges = fixpoint(
        # undirected edge list, both orientations
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
        _round,
        lambda prev, cur: same_count(prev, cur)
        and cur.df.exceptAll(prev.df).limit(1).count() == 0,
        max_iters=max_iters,
        strict=strict,
        what="near_dup_clusters_lss: edge set still changing",
    )
    roots = edges.groupBy("u").agg(F.min("v").alias("minv"))
    labels = nodes.select(F.col(id_col).alias("id")).join(
        roots.select(F.col("u").alias("id"), "minv"), "id", "left"
    )
    return labels.select(
        "id", F.least(F.col("id"), F.coalesce(F.col("minv"), F.col("id"))).alias("cluster_id")
    )
