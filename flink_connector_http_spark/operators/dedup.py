"""Deduplication operators over ``documents`` / ``embeddings``:

- exact (content-hash groupBy),
- n-gram Jaccard (exact pairwise over a shingle inverted index),
- MinHash + LSH banding (candidate generation at scale, exact verify),
- SimHash (32-bit fingerprints + hamming-distance pairs with an
  exact-cover band join),
- embedding-cosine near-duplicates.

All signature math is built-in expressions on top of the md5→int primitives
in ``text.py`` (bit-identical in Spark and DuckDB), so even the hash-based
operators run under the driver's hash-compared oracle gate.

Scale design (100 TB):
- exact dedup: one shuffle on a 128-bit content hash — minimal key width.
- jaccard: the shingle inverted index is the scale hazard (hot shingles →
  quadratic pair blowup). It is kept exact here as the *oracle-verifiable*
  baseline; at scale you run `dedup_minhash_lsh`, whose candidate volume is
  bounded by LSH bucket sizes, then verify candidates exactly — same
  output, bounded shuffle.
- minhash: signatures are computed per-row with zero shuffle (32 array
  scans over the shingle array, JVM-side); the only shuffles are the
  8 band-bucket self-joins on 128-bit band keys and the final verify join.
- simhash: per-row fingerprint, then an exact-cover band join (4 bands of
  8 bits; hamming ≤ 3 ⇒ at least one band identical by pigeonhole) —
  recall 100% without a full cross join.
- embedding cosine: documented O(n²); the LSH-bucketed variant in
  ``similarity.py`` is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import load, register
from .text import (
    SHINGLES_DUCK,
    SHINGLES_SPARK,
    TRAIN_PCT,
    md5_int32_duck,
    md5_int32_spark,
    md5_int60_duck,
    md5_int60_spark,
)

JACCARD_THRESHOLD = 0.8
COSINE_THRESHOLD = 0.45
HAMMING_MAX = 3

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(text)) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY content_hash
    """,
    doc="Exact dedup: group by 128-bit content hash, keep min doc_id "
        "(one narrow shuffle on the hash).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    return (
        docs.select(F.expr("md5(lower(text))").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact) — shared by the MinHash verify stage
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM documents
      )
    ), counts AS (
      SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(COUNT(*) AS DOUBLE) / (ca.c + cb.c - COUNT(*)) AS jaccard
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    JOIN counts ca ON ca.doc_id = a.doc_id
    JOIN counts cb ON cb.doc_id = b.doc_id
    GROUP BY a_id, b_id, ca.c, cb.c
    HAVING CAST(COUNT(*) AS DOUBLE) / (ca.c + cb.c - COUNT(*)) >= {JACCARD_THRESHOLD}
"""


def _shingle_index(
    spark: SparkSession, sf_dir: str, cand_docs: DataFrame | None = None
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    if cand_docs is not None:
        # restrict BEFORE shingling, keeping the filter below the Generate:
        # a broadcast left-semi join on doc_id prunes the corpus down to
        # candidate docs so the explode only shingles near-duplicates.
        # The ids stay distributed — the former collect()+isin variant
        # round-tripped them through the driver, which at 100 TB (1e7–1e9
        # candidate pairs) is a driver OOM and an unbounded filter expr.
        docs = docs.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    return docs.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({SHINGLES_SPARK})")).alias("s"),
    )


def _exact_jaccard(sh: DataFrame, candidates: DataFrame | None) -> DataFrame:
    """Exact jaccard over a shingle inverted index; optionally restricted to
    candidate (a_id, b_id) pairs from an LSH pre-filter.

    Callers that restrict must prune the shingle index to candidate docs
    BEFORE shingling (see ``_shingle_index(cand_docs=...)``) so the
    quadratic co-shingle pair expansion only ever runs over
    near-duplicates — this is what makes LSH-verify scale while the
    unrestricted variant stays the small-data oracle baseline."""
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    if candidates is not None:
        pairs = pairs.join(F.broadcast(candidates), ["a_id", "b_id"], "left_semi")
    inter = pairs.groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("inter"))
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("c").alias("ca"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("c").alias("cb"))
    return (
        inter.join(F.broadcast(ca), "a_id")
        .join(F.broadcast(cb), "b_id")
        .select(
            "a_id",
            "b_id",
            (F.col("inter").cast("double") / (F.col("ca") + F.col("cb") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    doc="Exact 3-gram Jaccard near-dup pairs (threshold 0.8) via a shingle "
        "inverted-index self-join.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_index(spark, sf_dir)
    return _exact_jaccard(sh, None)


# ---------------------------------------------------------------------------
# MinHash + LSH banding (scale path; identical output, verified candidates)
# ---------------------------------------------------------------------------

N_HASHES = 32
N_BANDS = 8  # 4 hashes per band; P(miss | j=0.8) = (1-0.8^4)^8 ≈ 0.8%,
             # at the planted-pair similarity (~0.98) P(miss) ≈ 1e-9


_SIG_MAX = 1 << 32  # above any 32-bit hash


def _minhash_sig_array_spark() -> str:
    """All 32 min-hashes in ONE expression pass using the affine hash
    family h_i(s) = (h1(s) + i·h2(s)) mod 2^32 — the standard minhash
    construction. Per shingle this costs TWO xxhash64 evaluations (bigint
    out, no hex-string round trip) plus 32 integer fused ops, instead of
    32 md5+substr+conv string pipelines. h2 is forced odd so every h_i
    stays a permutation of Z_2^32. The hash pair is materialized in a
    struct BEFORE the fold because expressions inside lambdas are not
    CSE'd. Max intermediate is < 2^37, so 64-bit ANSI arithmetic cannot
    overflow. No explode, no shuffle."""
    pair = (
        "struct((xxhash64(s) & 4294967295) AS h1, "
        "((xxhash64(s, 1) & 4294967295) | 1) AS h2)"
    )
    hs = f"transform(array_distinct({SHINGLES_SPARK}), s -> {pair})"
    return (
        f"aggregate({hs}, "
        f"array_repeat(CAST({_SIG_MAX} AS BIGINT), {N_HASHES}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {N_HASHES - 1}), "
        f"(a, i) -> least(a, (h.h1 + i * h.h2) & 4294967295)))"
    )


def _minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, sig) LSH band keys: band key = md5 of the
    concatenated 4-tuple of min-hashes."""
    sigs = docs.select("doc_id", F.expr(_minhash_sig_array_spark()).alias("sig"))
    per_band = 4
    band_cols = []
    for b in range(N_BANDS):
        parts = ", ".join(
            f"element_at(sig, {b * per_band + j + 1})" for j in range(per_band)
        )
        band_cols.append(F.expr(f"md5(concat_ws(',', {parts}))").alias(f"band{b}"))
    banded = sigs.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("sig"))
                for b in range(N_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band_id", "bk.sig")


@register(
    "dedup_minhash_lsh",
    oracle=_JACCARD_ORACLE,
    doc="MinHash(32)+LSH(8 bands) candidate generation, exact-jaccard "
        "verification — same output as dedup_ngram_jaccard with bounded "
        "candidate volume (the 100 TB path).",
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    bands = _minhash_bands(docs)
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # materialize the candidate set once, DISTRIBUTED: the verify stage
    # references it three times and recomputing would re-run the signature
    # fold — the expensive part — per reference. localCheckpoint (round
    # 15) instead of the former persist()+count(): persist registers the
    # plan in the CacheManager, which dedups IDENTICAL plans across
    # invocations — so in a min-of-N bench run, runs 2..N were reading
    # run 1's cached candidates instead of recomputing from parquet
    # (verified: 11.2 s -> 1.1 s at sf0.01; cross-run result caching,
    # which the bench contract forbids). localCheckpoint materializes a
    # fresh RDD per invocation — same single-computation guarantee
    # within the query, no reuse across runs — and truncates the
    # decorative lineage the timed action would otherwise re-analyze.
    # Nothing ever round-trips through the driver (the former
    # collect()+isin was a driver OOM at 1e7+ candidate pairs).
    candidates = candidates.localCheckpoint()
    cand_docs = (
        candidates.select(F.col("a_id").alias("doc_id"))
        .union(candidates.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    # the verify stage consumes the candidate-restricted shingle index
    # three times (join a side, join b side, per-doc counts) — cut it
    # once too; it is candidate-doc-bounded, tiny next to the corpus
    sh = _shingle_index(spark, sf_dir, cand_docs).localCheckpoint()
    return _exact_jaccard(sh, candidates)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

N_SIM_BITS = 32
N_SIM_BANDS = 4  # 8 bits per band; hamming ≤ 3 ⇒ ≥1 identical band


def _simhash_fp_expr(engine: str) -> str:
    """32-bit SimHash over the distinct-token set: per bit j, majority vote
    of token-hash bit j; fingerprint = Σ 2^j · [vote_j > 0]."""
    if engine == "spark":
        # materialize token hashes first (md5 once per token), then fold a
        # 32-slot vote array — expressions inside lambdas are not CSE'd, so
        # the naive per-bit aggregate would hash every token 32 times
        toks = "array_distinct(split(text, ' '))"
        h = md5_int32_spark("t")
        hashes = f"transform({toks}, t -> {h})"
        votes = (
            f"aggregate({hashes}, "
            f"array_repeat(0L, {N_SIM_BITS}), "
            f"(acc, h) -> zip_with(acc, sequence(0, {N_SIM_BITS - 1}), "
            f"(a, j) -> a + CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END))"
        )
        return (
            f"aggregate(zip_with({votes}, sequence(0, {N_SIM_BITS - 1}), "
            f"(v, j) -> CASE WHEN v > 0 THEN shiftleft(1L, j) ELSE 0L END), "
            f"0L, (acc, x) -> acc + x)"
        )
    toks = "list_distinct(string_split(text, ' '))"
    h = md5_int32_duck("t")
    votes = (
        f"list_transform(range(0, {N_SIM_BITS}), j -> "
        f"list_sum(list_transform({toks}, t -> "
        f"CASE WHEN (({h} >> j) & 1) = 1 THEN 1 ELSE -1 END)))"
    )
    return (
        f"list_sum(list_transform(range(0, {N_SIM_BITS}), j -> "
        f"CASE WHEN ({votes})[j + 1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END))"
    )


@register(
    "dedup_simhash_fingerprints",
    oracle=f"""
    SELECT doc_id, CAST({_simhash_fp_expr('duck')} AS BIGINT) AS simhash
    FROM documents
    """,
    doc="32-bit SimHash fingerprints (majority vote over token-hash bits), "
        "computed per-row with zero shuffle.",
)
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    return docs.select("doc_id", F.expr(_simhash_fp_expr("spark")).alias("simhash"))


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, CAST({_simhash_fp_expr('duck')} AS BIGINT) AS simhash
      FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    doc="SimHash near-dup pairs (hamming ≤ 3) via exact-cover band join: "
        "4 bands × 8 bits, pigeonhole guarantees recall — the oracle brute-"
        "forces all pairs, Spark never does.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    fp = docs.select("doc_id", F.expr(_simhash_fp_expr("spark")).alias("simhash"))
    bits_per_band = N_SIM_BITS // N_SIM_BANDS
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.expr(
                        f"(simhash >> {b * bits_per_band}) & {(1 << bits_per_band) - 1}"
                    ).alias("band_val"),
                )
                for b in range(N_SIM_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band_id", "bk.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (local document fingerprinting, MOSS-style)
# ---------------------------------------------------------------------------

WINNOW_W = 4           # window of consecutive k-gram hashes per fingerprint
MIN_SHARED_FP = 2      # pair threshold: shared selected fingerprints
MAX_FP_POSTINGS = 50   # drop boilerplate fingerprints seen in > N docs

#: positional k-gram hash array (3-gram shingles, md5→60-bit int) — unlike
#: the minhash path the list is NOT dedup'd: winnowing is positional
_KGRAM_HASHES_SPARK = f"transform({SHINGLES_SPARK}, s -> {md5_int60_spark('s')})"
_KGRAM_HASHES_DUCK = (
    f"list_transform({SHINGLES_DUCK}, s -> {md5_int60_duck('s')})"
)

#: window-min selection over the positional hash list (operates on a
#: pre-computed `h` column). Guarantees: any shared run of >= w+k-1 tokens
#: shares at least one selected fingerprint (Schleimer/Wilkerson/Aiken).
_WINNOW_SPARK = (
    f"CASE WHEN size(h) >= {WINNOW_W} THEN "
    f"array_distinct(transform(sequence(1, size(h) - {WINNOW_W - 1}), "
    f"j -> array_min(slice(h, j, {WINNOW_W})))) "
    f"WHEN size(h) > 0 THEN array(array_min(h)) ELSE array() END"
)
_WINNOW_DUCK = (
    f"CASE WHEN len(h) >= {WINNOW_W} THEN "
    f"list_distinct(list_transform(range(1, len(h) - {WINNOW_W - 2}), "
    f"j -> list_min(h[j:j + {WINNOW_W - 1}]))) "
    f"WHEN len(h) > 0 THEN [list_min(h)] ELSE [] END"
)


@register(
    "dedup_winnowing",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id, {_KGRAM_HASHES_DUCK} AS h FROM documents
    ),
    fp AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, unnest({_WINNOW_DUCK}) AS fp FROM hs
      )
    ),
    keep AS (
      SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {MAX_FP_POSTINGS}
    ),
    pruned AS (
      SELECT fp.doc_id, fp.fp FROM fp JOIN keep USING (fp)
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a_id, b_id
    HAVING COUNT(*) >= {MIN_SHARED_FP}
    """,
    doc="Winnowing fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken "
        "local fingerprinting, the MOSS algorithm): positional 3-gram "
        f"hashes → min of every {WINNOW_W}-hash window → per-doc selected "
        "fingerprint set → inverted-index self-join. Detection guarantee: "
        f"any shared token run of length >= {WINNOW_W}+3-1 shares a "
        "fingerprint — robust to insertions/reorderings that break "
        "whole-document hashing. Scale: the index carries ~1/w of the "
        "k-gram volume (the winnowing density bound), selection is a "
        "per-row codegen expression with zero shuffle, and boilerplate "
        f"fingerprints posting to > {MAX_FP_POSTINGS} docs are dropped "
        "before the self-join (the standard hot-key cap that bounds the "
        "pair blowup at corpus scale).",
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    fps = (
        docs.select("doc_id", F.expr(_KGRAM_HASHES_SPARK).alias("h"))
        .select("doc_id", F.explode(F.expr(_WINNOW_SPARK)).alias("fp"))
        .distinct()
    )
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= MAX_FP_POSTINGS)
        .select("fp")
    )
    pruned = fps.join(keep, "fp", "left_semi")
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED_FP)
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicates
# ---------------------------------------------------------------------------

COS_DUCK = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


_DOT_AB = (
    "aggregate(zip_with(a_emb, b_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round({COS_DUCK}, 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({COS_DUCK}, 6) >= {COSINE_THRESHOLD}
    """,
    doc="Embedding-cosine near-dup pairs (≥ 0.45, rounded to 6dp for "
        "cross-engine float stability). O(n²) exact baseline; LSH-bucketed "
        "variant in similarity.py is the scale path.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    # norms are computed ONCE per vector before the O(n²) join instead of
    # per pair; the expression (and thus the float op order and the 6dp
    # rounded value) is unchanged, so oracle hashes still match
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.expr(_NORM.format(col="embedding")).alias("a_norm"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.expr(_NORM.format(col="embedding")).alias("b_norm"),
    )
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.expr(f"round({_DOT_AB} / (a_norm * b_norm), 6)").alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    max_iterations: int = 50,
    *,
    method: str = "star",
) -> DataFrame:
    """Connected components over an undirected pair graph: ``(a_id,
    b_id)`` edges → ``(doc_id, cluster_id)`` where ``cluster_id`` is the
    smallest doc id in the node's component — the canonical-document
    choice for a dedup pipeline (keep ``cluster_id``, drop the rest).

    ``method="star"`` (default) is alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): each round is two distributed group-by-min +
    join passes, and the edge set contracts toward per-component stars in
    **O(log n) rounds even on pathological chain graphs** — the shape
    that holds at 100 TB. ``method="propagate"`` is classic min-label
    propagation, bounded by component diameter instead (fine for the
    quasi-clique graphs near-dup pairs form; kept for comparison and as
    the simpler oracle of the two).

    Both are driver-coordinated fixpoint loops where every step is
    distributed; no neighborhood is ever collected to one row
    (``collect_set``-free — hub nodes with millions of neighbors stay
    sharded). The number of rounds actually run is recorded on
    ``connected_components.last_iterations``.
    """
    if method == "star":
        return _cc_star_contraction(pairs, max_iterations)
    if method == "propagate":
        return _cc_label_propagation(pairs, max_iterations)
    raise ValueError(f"unknown method {method!r}; expected 'star' or 'propagate'")


def _cc_star_contraction(pairs: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star rounds until the edge set is a
    fixpoint (per-component stars centered at the min node).

    large-star: every node v in Γ(u) with v > u re-attaches to
    m = min(Γ(u) ∪ {u}); small-star (on big→small directed edges): every
    smaller neighbor re-attaches to m = min(Γ(u)) and u itself links to m.
    Both are expressed per-edge (a whole-partition window min over the
    neighborhood key — one exchange per star, no join), never
    per-neighborhood-row.
    """
    # materialize the pair source once: it seeds both the edge set and
    # the node inventory, and upstream may be an expensive minhash
    # pipeline. localCheckpoint (round 15) instead of persist for the
    # same reason as dedup_minhash_lsh's candidates: persist's
    # CacheManager entry is plan-keyed and survives across invocations,
    # so bench re-runs were reading the previous run's cache — and the
    # checkpoint also truncates the upstream lineage, so the loop's
    # plans (and the returned plan) stay flat instead of dragging the
    # whole minhash pipeline along for re-analysis.
    pairs = pairs.localCheckpoint()
    nodes = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .union(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    # each round references the edge set TWICE (the symmetric union), so
    # carrying lineage across rounds would double the logical plan per
    # iteration — exponential analysis cost. localCheckpoint truncates the
    # plan at every round boundary (on a real cluster with an unreliable-
    # executor concern, swap for reliable checkpoint(): same contract).
    edges = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    from pyspark.sql.window import Window as _W

    _w_u = _W.partitionBy("u")
    prev_sig = None
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # Round 15: each star used to be a groupBy-min JOINED back onto
        # the edge multiset — two passes over the edges plus a
        # neighborhood-min table referenced twice (planned as a diamond
        # and re-executed per reference). A whole-partition window min
        # computes m = min(Γ(u)) on every edge row in ONE exchange with
        # no join, and explode(array(...)) emits both row shapes of the
        # small-star from one pass instead of a 2-branch union diamond.
        # Skew profile is unchanged (the window partitions by the same u
        # the groupBy keyed on, and a hub-partition sort spills as
        # gracefully as the join build it replaces). Alternating A/B at
        # sf0.1: median 2.66 -> 2.41 s for dedup_clusters.
        # -- large-star: symmetric neighborhoods, larger neighbors hook to min
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # no distinct on large's output (round 15): duplicate (u, v) rows
        # are harmless to the small-star below — its window min and the
        # round-final distinct() absorb duplicates. Duplicate volume is
        # bounded by the symmetric edge multiset (<= 2|E| rows).
        large = (
            sym.withColumn("m", F.least(F.min("v").over(_w_u), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # -- small-star: on big→small edges (large-star output already
        # points big→small, u > v), every member hooks to the min and u
        # itself links to it; the former mins2-union arrives as the
        # second explode branch (duplicates die in the distinct, and
        # m < u always holds there, so the u != v filter is a no-op on
        # that branch)
        small = (
            large.withColumn("m", F.min("v").over(_w_u))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("u"), F.col("m").alias("v")),
                    )
                ).alias("r")
            )
            .select("r.u", "r.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()  # truncate lineage at the round boundary
        )
        # fixpoint when the edge set stops changing (count + order-
        # independent xor hash — one tiny aggregate per round)
        sig_row = small.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        edges = small
        if sig == prev_sig:
            break
        prev_sig = sig
    connected_components.last_iterations = rounds  # type: ignore[attr-defined]
    # stars: every non-center node u carries exactly one edge (u, center)
    labels = nodes.join(
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("ctr")),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce(F.col("ctr"), F.col("doc_id")).cast("long").alias("cluster_id"),
    )
    # eager localCheckpoint: materializes the labels (so callers act on
    # a computed result) AND truncates the plan — the former
    # persist()+count() kept the full loop lineage in the returned
    # DataFrame (round-15 plan audit: 1512 Exchange / 502 scan nodes of
    # decorative plan re-analyzed by Catalyst on every action) and its
    # CacheManager entry leaked the result across bench re-runs
    return labels.localCheckpoint()


def _cc_label_propagation(pairs: DataFrame, max_iterations: int) -> DataFrame:
    """Min-label propagation; rounds bounded by component diameter."""
    # persist the pair source FIRST: the undirected adjacency is a 2-branch
    # union, and materializing it without this would execute the upstream
    # pair pipeline (minhash + band join + verify) once per branch
    pairs = pairs.persist()
    fwd = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    adj = fwd.union(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    adj = adj.persist()
    labels = (
        adj.select(F.col("src").alias("doc_id")).distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        neigh = (
            adj.join(
                labels.select(
                    F.col("doc_id").alias("dst"),
                    F.col("cluster_id").alias("dst_cluster"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_cluster").alias("neigh_min"))
            .select(F.col("src").alias("doc_id"), "neigh_min")
        )
        joined = labels.join(neigh, "doc_id", "left").persist()
        n_changed = joined.filter(F.col("neigh_min") < F.col("cluster_id")).count()
        # localCheckpoint per round: a diameter-bound loop would otherwise
        # accumulate a linearly deeper plan (re-analyzed every round)
        labels = joined.select(
            "doc_id",
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("neigh_min"), F.col("cluster_id")),
            ).alias("cluster_id"),
        ).localCheckpoint()
        joined.unpersist()
        if n_changed == 0:
            break
    connected_components.last_iterations = rounds  # type: ignore[attr-defined]
    pairs.unpersist()
    adj.unpersist()
    return labels.select("doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      {_JACCARD_ORACLE}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    walk(doc_id, reach) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, w.reach FROM edges e JOIN walk w ON w.doc_id = e.dst
    )
    SELECT doc_id, CAST(MIN(reach) AS BIGINT) AS cluster_id
    FROM walk GROUP BY doc_id
"""


@register(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Duplicate-cluster resolution: MinHash-LSH near-dup pairs → "
        "connected components (alternating star contraction, O(log n) "
        "rounds) → per-doc canonical cluster id. The oracle recomputes "
        "components with a recursive CTE.",
    bench=True,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# cluster representative selection (keep the best doc, not just the first)
# ---------------------------------------------------------------------------

#: quality signal for representative choice: lexical diversity (distinct /
#: total tokens) as a fixed-order DOUBLE — engine-exact
_UNIQ_RATIO_SPARK = (
    "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / "
    "size(split(text, ' '))"
)
_UNIQ_RATIO_DUCK = (
    "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / "
    "len(string_split(text, ' '))"
)

_KEEP_BEST_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      {_JACCARD_ORACLE}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    walk(doc_id, reach) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, w.reach FROM edges e JOIN walk w ON w.doc_id = e.dst
    ),
    clusters AS (
      SELECT doc_id, CAST(MIN(reach) AS BIGINT) AS cluster_id
      FROM walk GROUP BY doc_id
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, {_UNIQ_RATIO_DUCK} AS uniq_ratio,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY {_UNIQ_RATIO_DUCK} DESC, c.doc_id)
               AS rk,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT cluster_id, doc_id AS keep_doc_id, uniq_ratio, n_members
    FROM ranked WHERE rk = 1
"""


@register(
    "dedup_keep_best",
    oracle=_KEEP_BEST_ORACLE,
    doc="Cluster representative selection: near-dup clusters keep their "
        "HIGHEST-QUALITY member (lexical diversity, deterministic doc_id "
        "tie-break), not the arbitrary first — the policy real corpus "
        "dedup uses so boilerplate-laden copies lose to the clean one. "
        "Composes dedup_clusters with a per-cluster argmax window; the "
        "quality join touches only clustered docs (a semi-join-sized "
        "fraction of the corpus).",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    clusters = dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")["documents"]
    quality = docs.select(
        "doc_id", F.expr(_UNIQ_RATIO_SPARK).alias("uniq_ratio")
    )
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("uniq_ratio"), F.asc("doc_id")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            "uniq_ratio",
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# incremental dedup (daily-crawl pattern: new batch vs existing corpus)
# ---------------------------------------------------------------------------

INCR_SPLIT = 400  # doc_id < INCR_SPLIT plays "existing corpus", rest "new"


@register(
    "dedup_incremental",
    oracle=f"""
    WITH old AS (
      SELECT DISTINCT md5(lower(text)) AS h FROM documents
      WHERE doc_id < {INCR_SPLIT}
    ),
    new_batch AS (
      SELECT doc_id, md5(lower(text)) AS h FROM documents
      WHERE doc_id >= {INCR_SPLIT}
    ),
    ranked AS (
      SELECT n.doc_id, n.h,
             CAST(o.h IS NOT NULL AS BOOLEAN) AS dup_of_existing,
             ROW_NUMBER() OVER (PARTITION BY n.h ORDER BY n.doc_id)
               AS rn_in_batch
      FROM new_batch n LEFT JOIN old o ON o.h = n.h
    )
    SELECT doc_id,
           CASE WHEN dup_of_existing THEN 'dup_of_existing'
                WHEN rn_in_batch > 1 THEN 'dup_in_batch'
                ELSE 'novel' END AS verdict
    FROM ranked
    """,
    doc="Incremental (daily-crawl) dedup: classify each new-batch document "
        "as novel, duplicate-of-existing-corpus, or duplicate-within-batch "
        "— the decision a continuously-ingesting pipeline makes so it "
        "never re-deduplicates the full corpus. The existing side is "
        "reduced to distinct content hashes BEFORE the join (at 100 TB "
        "that's the only thing that must persist day to day: the hash "
        "index, not the text), the within-batch rank and the existing "
        "probe share the content-hash partitioning, and novel hashes "
        "union into the index for tomorrow.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    h = F.expr("md5(lower(text))")
    old = (
        docs.filter(F.col("doc_id") < INCR_SPLIT)
        .select(h.alias("h"))
        .distinct()
        .withColumn("seen", F.lit(True))
    )
    new_batch = docs.filter(F.col("doc_id") >= INCR_SPLIT).select(
        "doc_id", h.alias("h")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        new_batch.join(old, "h", "left")
        .withColumn("rn_in_batch", F.row_number().over(w))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN seen THEN 'dup_of_existing' "
                "WHEN rn_in_batch > 1 THEN 'dup_in_batch' "
                "ELSE 'novel' END"
            ).alias("verdict"),
        )
    )


# the oracle classifies new-batch docs against the exact-jaccard pair
# set: a_id < b_id and existing ids < INCR_SPLIT <= new ids, so an
# existing-new pair always has a = existing
_INCR_MINHASH_ORACLE = f"""
    WITH pairs AS (
      {_JACCARD_ORACLE}
    ),
    new_docs AS (
      SELECT doc_id FROM documents WHERE doc_id >= {INCR_SPLIT}
    ),
    dup_exist AS (
      SELECT DISTINCT b_id AS doc_id FROM pairs WHERE a_id < {INCR_SPLIT}
    ),
    dup_batch AS (
      SELECT DISTINCT b_id AS doc_id FROM pairs WHERE a_id >= {INCR_SPLIT}
    )
    SELECT n.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'near_dup_of_existing'
                WHEN b.doc_id IS NOT NULL THEN 'near_dup_in_batch'
                ELSE 'novel' END AS verdict
    FROM new_docs n
    LEFT JOIN dup_exist e ON e.doc_id = n.doc_id
    LEFT JOIN dup_batch b ON b.doc_id = n.doc_id
    """


@register(
    "dedup_incremental_minhash",
    oracle=_INCR_MINHASH_ORACLE,
    doc="Incremental NEAR-dup dedup (the fuzzy twin of dedup_incremental): "
        "classify each new-batch document as near-duplicate of the "
        "existing corpus, near-duplicate within the batch, or novel — "
        "without ever re-pairing the existing corpus against itself. The "
        "persistent day-to-day index is the LSH band table (8 small keys "
        "per doc, not the text); candidates are only new-vs-existing and "
        "new-vs-new band collisions, so daily work scales with batch "
        "size, and exact-jaccard verification touches just the candidate "
        "docs via the pruned shingle semi-join. Precedence matches the "
        "exact variant: existing wins over in-batch (the in-batch partner "
        "with the smaller doc_id stays novel and becomes the kept copy).",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    bands = _minhash_bands(docs)
    a = bands.alias("a")
    b = bands.alias("b")
    # only pairs whose LARGER side is in the new batch: new-vs-existing
    # (a existing) and new-vs-new (both new); existing-vs-existing pairs
    # are never generated — that's the incremental contract
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.doc_id") >= INCR_SPLIT),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
        .persist()
    )
    candidates.count()
    cand_docs = (
        candidates.select(F.col("a_id").alias("doc_id"))
        .union(candidates.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sh = _shingle_index(spark, sf_dir, cand_docs)
    verified = _exact_jaccard(sh, candidates).persist()
    dup_exist = (
        verified.filter(F.col("a_id") < INCR_SPLIT)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("is_exist_dup", F.lit(True))
    )
    dup_batch = (
        verified.filter(F.col("a_id") >= INCR_SPLIT)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("is_batch_dup", F.lit(True))
    )
    new_docs = docs.filter(F.col("doc_id") >= INCR_SPLIT).select("doc_id")
    return (
        new_docs.join(F.broadcast(dup_exist), "doc_id", "left")
        .join(F.broadcast(dup_batch), "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN is_exist_dup THEN 'near_dup_of_existing' "
                "WHEN is_batch_dup THEN 'near_dup_in_batch' "
                "ELSE 'novel' END"
            ).alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# incremental cluster-label maintenance (union-find-style merge of a batch)
# ---------------------------------------------------------------------------


def _incremental_new_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup edges whose larger endpoint is in the new batch
    (new-vs-existing + new-vs-new) — the daily delta the persistent band
    index yields; existing-vs-existing pairs are never generated. Same
    candidate/verify machinery as :func:`dedup_incremental_minhash`."""
    docs = load(spark, sf_dir, "documents")["documents"]
    bands = _minhash_bands(docs)
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.doc_id") >= INCR_SPLIT),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
        .persist()
    )
    candidates.count()
    cand_docs = (
        candidates.select(F.col("a_id").alias("doc_id"))
        .union(candidates.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sh = _shingle_index(spark, sf_dir, cand_docs)
    return _exact_jaccard(sh, candidates).select("a_id", "b_id")


def _existing_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted state an incremental campaign carries day to day:
    (doc_id, cluster_id) over the existing corpus only. Recomputed here
    from the existing half (doc_id < INCR_SPLIT) exactly like
    :func:`dedup_incremental_minhash` recomputes its band index — in
    production both live in a table."""
    docs = load(spark, sf_dir, "documents")["documents"]
    existing = docs.filter(F.col("doc_id") < INCR_SPLIT)
    bands = _minhash_bands(existing)
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
        .persist()
    )
    candidates.count()
    cand_docs = (
        candidates.select(F.col("a_id").alias("doc_id"))
        .union(candidates.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sh = _shingle_index(spark, sf_dir, cand_docs)
    pairs = _exact_jaccard(sh, candidates).select("a_id", "b_id")
    return connected_components(pairs)


def merge_cluster_labels(
    existing_labels: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Union-find-style incremental label maintenance: fold a batch of new
    edges into an existing (doc_id, cluster_id) table, touching only the
    affected components.

    Contract every existing component to its representative (its
    cluster_id — already the component's min doc id), project each new
    edge endpoint onto that representative (or itself when unlabeled),
    and run connected components over the resulting SUPER-GRAPH, whose
    size is bounded by the batch's edge count — not the corpus. The
    resulting (node → merged id) remap is batch-bounded, so it broadcasts,
    and the final relabel of the existing table is one broadcast join: no
    corpus-sized shuffle anywhere. Untouched components miss the remap
    and keep their labels byte-for-byte.

    Correctness: representatives are per-component minima and minima
    compose (min over a merged set of components = min of their minima),
    so the super-graph's min-label CC yields exactly the labels a full
    recompute over (existing pairs ∪ new edges) would — the registered
    oracle checks that equivalence against the full recursive-CTE CC.
    """
    labels = existing_labels.persist()
    # the batch edge set feeds FIVE consumers below (endpoints twice,
    # the super-graph, the fresh-node path) — cut its lineage once so an
    # expensive upstream (the LSH candidate verify) never re-executes;
    # it is batch-bounded by contract, so the materialization is tiny
    new_edges = new_edges.localCheckpoint()
    # the only label rows the batch can touch are its own endpoints —
    # semi-filter the corpus-sized table down to that batch-bounded set
    # (broadcasting the ENDPOINTS, never a corpus-sized projection) so
    # every later broadcast in this function is batch-bounded
    endpoints = (
        new_edges.select(F.col("a_id").alias("doc_id"))
        .union(new_edges.select(F.col("b_id").alias("doc_id")))
        .distinct()
        .localCheckpoint()  # reused by touched AND the fresh-node path
    )
    touched = labels.join(
        F.broadcast(endpoints), "doc_id", "left_semi"
    ).localCheckpoint()  # batch-bounded; feeds lab_a, lab_b and fresh
    lab_a = touched.select(
        F.col("doc_id").alias("a_id"), F.col("cluster_id").alias("a_rep")
    )
    lab_b = touched.select(
        F.col("doc_id").alias("b_id"), F.col("cluster_id").alias("b_rep")
    )
    # endpoints resolve to their component representative; unlabeled
    # endpoints (new docs, or existing singletons outside the state
    # table) stand for themselves
    super_edges = (
        new_edges.join(F.broadcast(lab_a), "a_id", "left")
        .join(F.broadcast(lab_b), "b_id", "left")
        .select(
            F.coalesce(F.col("a_rep"), F.col("a_id")).alias("a_id"),
            F.coalesce(F.col("b_rep"), F.col("b_id")).alias("b_id"),
        )
        .filter(F.col("a_id") != F.col("b_id"))
    )
    remap = connected_components(super_edges).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("merged")
    )
    # existing rows: only components whose representative appears in the
    # remap change labels; everything else passes through untouched
    relabeled = (
        labels.join(
            F.broadcast(remap), labels["cluster_id"] == remap["node"], "left"
        )
        .select(
            "doc_id",
            F.coalesce(F.col("merged"), F.col("cluster_id"))
            .cast("long")
            .alias("cluster_id"),
        )
    )
    # graph nodes introduced by this batch: new-edge endpoints that the
    # state table has never labeled (new docs + existing loners)
    fresh = (
        endpoints
        # anti vs the batch-bounded TOUCHED slice is equivalent to anti
        # vs the full table (endpoints ∩ labels == touched by
        # construction) and keeps the corpus out of the join
        .join(F.broadcast(touched.select("doc_id")), "doc_id", "left_anti")
        .join(F.broadcast(remap), F.col("doc_id") == F.col("node"))
        .select("doc_id", F.col("merged").cast("long").alias("cluster_id"))
    )
    return relabeled.unionByName(fresh)


@register(
    "dedup_incremental_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Incremental cluster-label maintenance: the existing corpus keeps "
        "a persisted (doc_id, cluster_id) table; a new batch's near-dup "
        "edges (new-vs-existing + new-vs-new, from the persistent band "
        "index) merge into it union-find-style — existing components "
        "contract to their representatives, the batch-bounded super-graph "
        "runs connected components, and a broadcast remap relabels ONLY "
        "affected components. The oracle is the FULL-recompute recursive "
        "CTE over the complete pair graph (same as dedup_clusters), so "
        "the gate certifies merge-equals-recompute; daily work is bounded "
        "by batch size, never corpus size.",
)
def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    existing_labels = _existing_cluster_labels(spark, sf_dir)
    new_edges = _incremental_new_edges(spark, sf_dir)
    return merge_cluster_labels(existing_labels, new_edges)


@register(
    "dedup_incremental_cluster_churn",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {_JACCARD_ORACLE}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    walk(doc_id, reach) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, w.reach FROM edges e JOIN walk w ON w.doc_id = e.dst
    ),
    full_labels AS (
      SELECT doc_id, CAST(MIN(reach) AS BIGINT) AS cluster_id
      FROM walk GROUP BY doc_id
    ),
    ex_edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs WHERE b_id < {INCR_SPLIT}
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs WHERE b_id < {INCR_SPLIT}
    ),
    ex_walk(doc_id, reach) AS (
      SELECT DISTINCT src, src FROM ex_edges
      UNION
      SELECT e.src, w.reach FROM ex_edges e JOIN ex_walk w ON w.doc_id = e.dst
    ),
    ex_labels AS (
      SELECT doc_id, CAST(MIN(reach) AS BIGINT) AS old_id
      FROM ex_walk GROUP BY doc_id
    )
    SELECT f.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN e.old_id = f.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exist_stable,
           CAST(SUM(CASE WHEN e.old_id IS NOT NULL
                          AND e.old_id <> f.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exist_relabeled,
           CAST(SUM(CASE WHEN e.old_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_new_docs
    FROM full_labels f LEFT JOIN ex_labels e USING (doc_id)
    GROUP BY f.cluster_id
    """,
    doc="Label-churn audit of the incremental cluster merge — the QA "
        "readout an incremental dedup campaign reviews each day: per "
        "FINAL cluster, how many members kept their state label "
        "(n_exist_stable), how many existing docs were relabeled by a "
        "batch-induced merge (n_exist_relabeled), and how many members "
        "the batch introduced (n_new_docs). The oracle recomputes both "
        "generations of labels with recursive CTEs; the Spark side reuses "
        "the batch-bounded merge, so a churn row also re-certifies "
        "merge-equals-recompute from a second angle.",
)
def dedup_incremental_cluster_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = _existing_cluster_labels(spark, sf_dir).persist()
    merged = merge_cluster_labels(state, _incremental_new_edges(spark, sf_dir))
    joined = merged.join(
        state.select("doc_id", F.col("cluster_id").alias("old_id")),
        "doc_id",
        "left",
    )
    return joined.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(
            F.when(F.col("old_id") == F.col("cluster_id"), 1).otherwise(0)
        ).cast("long").alias("n_exist_stable"),
        F.sum(
            F.when(
                F.col("old_id").isNotNull()
                & (F.col("old_id") != F.col("cluster_id")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_exist_relabeled"),
        F.sum(
            F.when(F.col("old_id").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_new_docs"),
    )


# ---------------------------------------------------------------------------
# containment near-dup (asymmetric: B quotes/embeds most of A)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM documents
      )
    ), counts AS (
      SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id
    )
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
           CAST(COUNT(*) AS DOUBLE) / ca.c AS containment
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
    JOIN counts ca ON ca.doc_id = a.doc_id
    GROUP BY contained_id, container_id, ca.c
    HAVING CAST(COUNT(*) AS DOUBLE) / ca.c >= {CONTAINMENT_THRESHOLD}
    """,
    doc="Asymmetric containment dedup: |A∩B| / |A| over 3-token shingles "
        "flags documents mostly CONTAINED in another (quotes, embedded "
        "articles, boilerplate wrappers) — pairs Jaccard misses because "
        "the union term swamps a small contained doc. Same inverted-index "
        "self-join as the exact-Jaccard baseline (one shuffle on shingle); "
        "divided only by the contained side's shingle count, and ordered "
        "pairs (<>) because containment is directional. The scale path "
        "reuses the MinHash candidates exactly as dedup_minhash_lsh does.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_index(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = sh.select(F.col("doc_id").alias("contained_id"), "s")
    b = sh.select(F.col("doc_id").alias("container_id"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            counts.select(
                F.col("doc_id").alias("contained_id"), F.col("c").alias("ca")
            ),
            "contained_id",
        )
        .withColumn(
            "containment", F.expr("CAST(n_common AS DOUBLE) / ca")
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("contained_id", "container_id", "containment")
    )


# ---------------------------------------------------------------------------
# duplicate-span coverage: per-doc fraction of shingles shared with others
# ---------------------------------------------------------------------------


@register(
    "dedup_span_coverage",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM documents
      )
    ),
    freq AS (
      SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_shingles,
           round(CAST(SUM(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS dup_ratio
    FROM sh JOIN freq ON freq.s = sh.s
    GROUP BY sh.doc_id
    """,
    doc="Duplicate-span coverage: per document, the fraction of its "
        "3-gram shingles that occur in at least one OTHER document — the "
        "fine-grained span-level dedup signal (a doc can be 40% "
        "boilerplate without any whole-document near-duplicate, which "
        "pair-level Jaccard never surfaces). Two shuffles: shingle "
        "frequency aggregation, then the shingle-keyed join back and the "
        "per-doc reduce; frequencies are reduced BEFORE the join so the "
        "wide side joins against (shingle, count), not raw postings. "
        "The filtering policy this feeds drops or trims high-ratio docs "
        "before training.",
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_index(spark, sf_dir).persist()
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(freq, "s")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_shingles"),
            F.expr(
                "CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_dup_shingles"),
            F.expr(
                "round(CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) "
                "AS DOUBLE) / COUNT(*), 6)"
            ).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# blocked record linkage (fuzzy entity resolution)
# ---------------------------------------------------------------------------

LINK_MAX_DIST = 3


@register(
    "link_blocked_edit_distance",
    oracle=f"""
    WITH names AS (
      SELECT p_name, string_split(p_name, ' ')[-1] AS block_key,
             COUNT(*) AS n_rows
      FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(a.n_rows AS BIGINT) AS rows_a,
           CAST(b.n_rows AS BIGINT) AS rows_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM names a
    JOIN names b
      ON a.block_key = b.block_key AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {LINK_MAX_DIST}
    """,
    doc=f"Blocked record linkage: candidate pairs share a blocking key "
        "(the head noun — last token of the entity name), then survive an "
        f"edit-distance gate (levenshtein <= {LINK_MAX_DIST}). Two-stage "
        "entity-resolution shape, with the scale-critical twist of "
        "linking DISTINCT names, not rows: the aggregate first collapses "
        "exact duplicates (here 2000 rows -> 64 names; in a real catalog, "
        "billions of rows -> millions of values), carrying the support "
        "count, so the quadratic comparison never sees the duplicate "
        "multiplicity — comparing at row level would emit m*(m-1)/2 "
        "trivial pairs per repeated value. Blocking turns all-pairs into "
        "an equi-join (one shuffle on block_key) and the distance work "
        "happens only inside blocks; production blocking composes weak "
        "keys (token + sorted-neighborhood + phonetic) and caps block "
        "sizes — a hot block is a degenerate key, same treatment as any "
        "skewed join key. The a<b canonical ordering emits each pair "
        "once; levenshtein runs JVM-side (codegen'd), no Python in the "
        "pair path. Row-level links recover by equi-joining part back on "
        "p_name to each side.",
)
def link_blocked_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")["part"]
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_rows")).select(
        "p_name",
        "n_rows",
        F.element_at(F.split("p_name", " "), -1).alias("block_key"),
    )
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= LINK_MAX_DIST
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.n_rows").cast("bigint").alias("rows_a"),
            F.col("b.n_rows").cast("bigint").alias("rows_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("bigint")
            .alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# longest common token run (exact-substring dedup signal)
# ---------------------------------------------------------------------------

RUN_HOT_CAP = 50   # ignore shingles present in more than this many docs
RUN_MIN_SHINGLES = 3  # report pairs sharing >= 3 consecutive shingles


@register(
    "dedup_common_run_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks
    ),
    psh AS (
      SELECT doc_id, i,
             t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
      FROM pos
    ),
    freq AS (
      SELECT s, COUNT(DISTINCT doc_id) AS nd FROM psh GROUP BY s
    ),
    keep AS (
      SELECT psh.doc_id, psh.i, psh.s
      FROM psh JOIN freq ON freq.s = psh.s
      WHERE freq.nd BETWEEN 2 AND {RUN_HOT_CAP}
    ),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.i AS ia, a.i - b.i AS diag
      FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, diag,
             ia - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY ia) AS island
      FROM m
    ),
    runs AS (
      SELECT doc_a, doc_b, COUNT(*) AS run_len
      FROM isl GROUP BY doc_a, doc_b, diag, island
    )
    SELECT doc_a, doc_b,
           CAST(MAX(run_len) AS BIGINT) AS max_run_shingles,
           CAST(MAX(run_len) + 2 AS BIGINT) AS lcs_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM runs GROUP BY doc_a, doc_b
    HAVING MAX(run_len) >= {RUN_MIN_SHINGLES}
    """,
    doc="Longest common token run per document pair — the exact-substring "
        "dedup signal (the property suffix-array substring dedup targets) "
        "re-expressed relationally: positioned 3-gram shingles matched "
        "across docs land on (ia, ib) points; consecutive shared shingles "
        "line up on one diagonal d = ia - ib, so the classic "
        "gaps-and-islands window (ia - row_number per (pair, diagonal)) "
        "recovers every maximal shared run and max(run)+2 is the longest "
        "common substring in tokens. No suffix array, no per-pair "
        "alignment loop — three shuffles total (shingle freq, the "
        "shingle-keyed pair join, the (pair,diag) window+reduce). Scale "
        f"guards: shingles in more than {RUN_HOT_CAP} docs are excluded "
        "before the pair join (a boilerplate phrase would otherwise emit "
        "O(freq^2) match points — the posting-cap treatment winnowing "
        "uses), and singleton shingles are dropped (can never match). "
        f"Pairs reported at >= {RUN_MIN_SHINGLES} consecutive shingles "
        f"(>= {RUN_MIN_SHINGLES + 2} shared tokens).",
)
def dedup_common_run_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")["documents"]
    psh = (
        docs.select(
            "doc_id",
            F.posexplode(F.expr(SHINGLES_SPARK)).alias("p", "s"),
        )
        .select("doc_id", (F.col("p") + 1).alias("i"), "s")
        .persist()
    )
    freq = psh.groupBy("s").agg(F.countDistinct("doc_id").alias("nd"))
    keep = (
        psh.join(freq, "s")
        .filter((F.col("nd") >= 2) & (F.col("nd") <= RUN_HOT_CAP))
        .select("doc_id", "i", "s")
    )
    a = keep.alias("a")
    b = keep.alias("b")
    m = a.join(
        b,
        (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.i").alias("ia"),
        (F.col("a.i") - F.col("b.i")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    isl = m.select(
        "doc_a", "doc_b", "diag",
        (F.col("ia") - F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.max("run_len").cast("bigint").alias("max_run_shingles"),
            (F.max("run_len") + 2).cast("bigint").alias("lcs_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        )
        .filter(F.col("max_run_shingles") >= RUN_MIN_SHINGLES)
    )


# ---------------------------------------------------------------------------
# entity resolution: linkage pairs -> connected entity clusters
# ---------------------------------------------------------------------------

_LINK_PAIRS_ORACLE = f"""
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM (SELECT p_name, string_split(p_name, ' ')[-1] AS block_key
            FROM part GROUP BY p_name) a
      JOIN (SELECT p_name, string_split(p_name, ' ')[-1] AS block_key
            FROM part GROUP BY p_name) b
        ON a.block_key = b.block_key AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= {LINK_MAX_DIST}
"""


@register(
    "link_entity_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {_LINK_PAIRS_ORACLE}
    ),
    edges AS (
      SELECT name_a AS src, name_b AS dst FROM pairs
      UNION ALL
      SELECT name_b AS src, name_a AS dst FROM pairs
    ),
    walk(node, reach) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, w.reach FROM edges e JOIN walk w ON w.node = e.dst
    ),
    clusters AS (
      SELECT node AS p_name, MIN(reach) AS canonical_name
      FROM walk GROUP BY node
    )
    SELECT c.p_name, c.canonical_name, CAST(cnt.n AS BIGINT) AS n_names
    FROM clusters c
    JOIN (
      SELECT canonical_name, COUNT(*) AS n FROM clusters GROUP BY canonical_name
    ) cnt ON cnt.canonical_name = c.canonical_name
    """,
    doc="Entity resolution end-to-end: blocked edit-distance linkage "
        "pairs -> connected components -> one canonical surface form per "
        "entity (the lexicographic min of the cluster). Pairwise linkage "
        "alone leaves A~B, B~C unresolved; the transitive closure is what "
        "turns match pairs into merge groups — the same star-contraction "
        "CC machinery dedup_clusters runs, reused on a string-keyed graph "
        "by hashing names to 60-bit ids for propagation and joining the "
        "names back for the canonical-form argmin. All stages distribute; "
        "the cluster count map is a broadcast-sized aggregate.",
)
def link_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    name_pairs = link_blocked_edit_distance(spark, sf_dir).select(
        "name_a", "name_b"
    ).persist()
    ids = (
        name_pairs.select(F.col("name_a").alias("p_name"))
        .union(name_pairs.select(F.col("name_b").alias("p_name")))
        .distinct()
        .select("p_name", F.expr(md5_int60_spark("p_name")).alias("nid"))
        .persist()
    )
    pair_ids = (
        name_pairs.join(ids.withColumnRenamed("p_name", "name_a")
                           .withColumnRenamed("nid", "a_id"), "name_a")
        .join(ids.withColumnRenamed("p_name", "name_b")
                 .withColumnRenamed("nid", "b_id"), "name_b")
        .select("a_id", "b_id")
    )
    cc = connected_components(pair_ids)  # (doc_id=nid, cluster_id)
    named = cc.join(ids, cc["doc_id"] == ids["nid"]).select(
        "p_name", "cluster_id"
    )
    canon = named.groupBy("cluster_id").agg(
        F.min("p_name").alias("canonical_name"),
        F.count(F.lit(1)).alias("n"),
    )
    # no broadcast hint: the canonical map is per-cluster (grows with the
    # entity count); the join reuses the cluster_id partitioning and AQE
    # broadcasts when it is actually small
    return named.join(canon, "cluster_id").select(
        "p_name",
        "canonical_name",
        F.col("n").cast("bigint").alias("n_names"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator accuracy audit (signature agreement vs exact Jaccard)
# ---------------------------------------------------------------------------

EST_EVAL_MIN_AGREE = 16  # audit pairs agreeing on >= half the signature


@register(
    "dedup_minhash_estimate_eval",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM documents
      ) t0
    ),
    hs AS (
      SELECT doc_id, s,
             {md5_int32_duck('s')} AS h1,
             ({md5_int32_duck("concat('b:', s)")} | 1) AS h2
      FROM sh
    ),
    sig AS (
      SELECT doc_id, i, MIN((h1 + i * h2) % 4294967296) AS m
      FROM hs, unnest(range(0, 32)) AS t(i)
      GROUP BY doc_id, i
    ),
    agree AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS k
      FROM sig a JOIN sig b ON a.i = b.i AND a.doc_id < b.doc_id
      GROUP BY a_id, b_id
      HAVING SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
             >= {EST_EVAL_MIN_AGREE}
    ),
    ex AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a_id, b_id
    ),
    counts AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id)
    SELECT g.a_id, g.b_id,
           CAST(g.k AS BIGINT) AS n_agree,
           round(CAST(g.k AS DOUBLE) / 32, 6) AS est_jaccard,
           round(CAST(COALESCE(e.inter, 0) AS DOUBLE)
                 / (ca.c + cb.c - COALESCE(e.inter, 0)), 6) AS exact_jaccard,
           round(abs(CAST(g.k AS DOUBLE) / 32
                     - CAST(COALESCE(e.inter, 0) AS DOUBLE)
                       / (ca.c + cb.c - COALESCE(e.inter, 0))), 6) AS abs_err
    FROM agree g
    LEFT JOIN ex e ON e.a_id = g.a_id AND e.b_id = g.b_id
    JOIN counts ca ON ca.doc_id = g.a_id
    JOIN counts cb ON cb.doc_id = g.b_id
    """,
    doc="MinHash estimator accuracy audit: for every pair whose 32-slot "
        "md5-affine signatures agree on >= half the slots, the sketch "
        "estimate (agreements/32) side by side with the exact Jaccard "
        "and the absolute error — the sketch-calibration twin of the ANN "
        "recall monitors (it shows FALSE POSITIVES of signature "
        "agreement; banding FNs are bounded analytically by the "
        "(1-j^r)^b curve documented on dedup_minhash_lsh). Uses an "
        "md5-based hash family so the signature itself is cross-engine "
        "reproducible; positioned as a periodic audit over a corpus "
        "sample — the all-pairs signature compare is O(n^2 * k) by "
        "design, production runs point it at a few thousand sampled "
        "docs.",
)
def dedup_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_index(spark, sf_dir).persist()
    hs = sh.select(
        "doc_id",
        F.expr(md5_int32_spark("s")).alias("h1"),
        F.expr(md5_int32_spark("concat('b:', s)") + " | 1").alias("h2"),
    )
    sig = (
        hs.select(
            "doc_id", "h1", "h2",
            F.explode(F.expr("sequence(0, 31)")).alias("i"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min(F.expr("(h1 + i * h2) % 4294967296")).alias("m"))
    )
    a = sig.alias("a")
    b = sig.alias("b")
    agree = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(
            F.expr("SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)").alias("k")
        )
        .filter(F.col("k") >= EST_EVAL_MIN_AGREE)
    )
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    ex = (
        sa.join(
            sb,
            (F.col("sa.s") == F.col("sb.s"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("a_id"), F.col("sb.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("c").alias("ca"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("c").alias("cb"))
    return (
        agree.join(ex, ["a_id", "b_id"], "left")
        .join(F.broadcast(ca), "a_id")
        .join(F.broadcast(cb), "b_id")
        .select(
            "a_id", "b_id",
            F.col("k").cast("bigint").alias("n_agree"),
            F.expr("round(CAST(k AS DOUBLE) / 32, 6)").alias("est_jaccard"),
            F.expr(
                "round(CAST(COALESCE(inter, 0) AS DOUBLE) "
                "/ (ca + cb - COALESCE(inter, 0)), 6)"
            ).alias("exact_jaccard"),
            F.expr(
                "round(abs(CAST(k AS DOUBLE) / 32 "
                "- CAST(COALESCE(inter, 0) AS DOUBLE) "
                "/ (ca + cb - COALESCE(inter, 0))), 6)"
            ).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# train/eval split leakage audit (near-dups crossing the split boundary)
# ---------------------------------------------------------------------------

LEAK_JACCARD = 0.5  # looser than dedup's 0.8: leakage audits over-report


@register(
    "dedup_split_leakage",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM documents
      ) t0
    ),
    counts AS (
      SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS DOUBLE) / (ca.c + cb.c - COUNT(*)) AS jaccard
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      JOIN counts ca ON ca.doc_id = a.doc_id
      JOIN counts cb ON cb.doc_id = b.doc_id
      GROUP BY a_id, b_id, ca.c, cb.c
      HAVING CAST(COUNT(*) AS DOUBLE) / (ca.c + cb.c - COUNT(*))
             >= {LEAK_JACCARD}
    ),
    spl AS (
      SELECT doc_id,
             CASE WHEN {md5_int32_duck("concat('split:', doc_id)")} % 100
                       < {TRAIN_PCT}
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    )
    SELECT p.a_id, p.b_id, round(p.jaccard, 6) AS jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM pairs p
    JOIN spl sa ON sa.doc_id = p.a_id
    JOIN spl sb ON sb.doc_id = p.b_id
    WHERE sa.split <> sb.split
    """,
    doc=f"Train/eval split leakage audit: near-duplicate pairs (3-gram "
        f"Jaccard >= {LEAK_JACCARD} — deliberately looser than dedup's "
        "0.8, an audit should over-report) whose members landed on "
        "OPPOSITE sides of the hash split — the contamination that "
        "silently inflates eval scores when dedup runs per-split instead "
        "of before splitting. Composes the hash-split assignment (zero "
        "shuffle, pure projection) onto the shingle-index pair join; at "
        "corpus scale the pair source swaps to the minhash candidates "
        "exactly as dedup_minhash_lsh does, with the same output "
        "contract. An empty result is the release gate.",
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import TRAIN_PCT, md5_int32_spark as _h32

    sh = _shingle_index(spark, sf_dir).persist()
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("c").alias("ca"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("c").alias("cb"))
    pairs = (
        inter.join(F.broadcast(ca), "a_id")
        .join(F.broadcast(cb), "b_id")
        .select(
            "a_id", "b_id",
            (F.col("inter").cast("double")
             / (F.col("ca") + F.col("cb") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= LEAK_JACCARD)
    )
    docs = load(spark, sf_dir, "documents")["documents"]
    salted = _h32("concat('split:', doc_id)")
    spl = docs.select(
        "doc_id",
        F.expr(
            f"CASE WHEN {salted} % 100 < {TRAIN_PCT} "
            "THEN 'train' ELSE 'eval' END"
        ).alias("split"),
    )
    sa = spl.select(F.col("doc_id").alias("a_id"), F.col("split").alias("split_a"))
    sb = spl.select(F.col("doc_id").alias("b_id"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            "a_id", "b_id",
            F.round("jaccard", 6).alias("jaccard"),
            "split_a", "split_b",
        )
    )


# ---------------------------------------------------------------------------
# duplicate-cluster size distribution
# ---------------------------------------------------------------------------

@register(
    "dedup_cluster_size_dist",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {_JACCARD_ORACLE}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    walk(doc_id, reach) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, w.reach FROM edges e JOIN walk w ON w.doc_id = e.dst
    ),
    clusters AS (
      SELECT doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY doc_id
    ),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS size FROM clusters GROUP BY cluster_id
    )
    SELECT CAST(size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs,
           CAST(SUM(size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY size
    """,
    doc="Duplicate-cluster size histogram: how many near-dup clusters "
        "exist at each size, with the doc count and the REMOVABLE count "
        "(size-1 per cluster — what dedup will actually delete). The "
        "distribution shape is the dedup-strategy signal: mostly pairs "
        "means isolated copies (cheap), a power-law tail means template "
        "farms where cluster-representative choice and the CC round "
        "bound both matter. Two tiny aggregates on top of the clustering "
        "the pipeline already ran.",
)
def dedup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    clusters = connected_components(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("size").cast("bigint").alias("n_docs"),
        F.expr("CAST(SUM(size - 1) AS BIGINT)").alias("n_removable"),
    ).select(
        F.col("size").cast("bigint").alias("cluster_size"),
        "n_clusters", "n_docs", "n_removable",
    )


# ---------------------------------------------------------------------------
# shingle posting-list profile (the hot-key audit behind the caps)
# ---------------------------------------------------------------------------

@register(
    "dedup_posting_profile",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM documents
      ) t0
    ),
    freq AS (
      SELECT s, COUNT(*) AS df FROM sh GROUP BY s
    )
    SELECT CAST(df AS BIGINT) AS doc_frequency,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df * (df - 1) / 2) AS BIGINT) AS pair_work
    FROM freq GROUP BY df
    """,
    doc="Shingle posting-list profile: the doc-frequency histogram of "
        "3-gram shingles, with the PAIR WORK column df*(df-1)/2 — "
        "exactly the number of candidate pairs each frequency class "
        "would inject into an inverted-index self-join. This is the "
        "audit that turns the posting caps (dedup_common_run_pairs' "
        f"{RUN_HOT_CAP}, winnowing's {MAX_FP_POSTINGS}) from folklore "
        "constants into measured choices: read the histogram tail, see "
        "where quadratic work concentrates, cap there. One "
        "map-side-combinable reduce over the shingle index; output is a "
        "histogram, constant-sized at any corpus scale.",
)
def dedup_posting_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_index(spark, sf_dir)
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return freq.groupBy("df").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.expr("CAST(SUM(df * (df - 1) / 2) AS BIGINT)").alias("pair_work"),
    ).select(
        F.col("df").cast("bigint").alias("doc_frequency"),
        "n_shingles", "pair_work",
    )


# ---------------------------------------------------------------------------
# structural template families (cheap pre-minhash template detector)
# ---------------------------------------------------------------------------

@register(
    "dedup_template_families",
    oracle="""
    WITH sig AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             string_split(text, ' ')[1] AS first_tok,
             string_split(text, ' ')[-1] AS last_tok
      FROM documents
    ),
    fam AS (
      SELECT n_tokens, first_tok, last_tok,
             COUNT(*) AS n_docs, MIN(doc_id) AS exemplar_doc
      FROM sig GROUP BY n_tokens, first_tok, last_tok
      HAVING COUNT(*) >= 2
    )
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens, first_tok, last_tok,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(exemplar_doc AS BIGINT) AS exemplar_doc
    FROM fam
    """,
    doc="Structural template families: documents grouped by the cheap "
        "frame signature (token count, first token, last token) — the "
        "zero-pair-join pre-filter that catches form letters and "
        "boilerplate scaffolds for pennies before MinHash spends real "
        "work. A family here is a CANDIDATE set (same frame, possibly "
        "different fill-ins) routed to the content-hash or near-dup "
        "stages; the exemplar doc anchors inspection. One "
        "map-side-combinable aggregate over a per-row projection — the "
        "cheapest dedup signal in the repertoire, which is exactly why "
        "crawl pipelines run it first.",
)
def dedup_template_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    sig = docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("n_tokens"),
        F.expr("element_at(split(text, ' '), 1)").alias("first_tok"),
        F.expr("element_at(split(text, ' '), -1)").alias("last_tok"),
    )
    return (
        sig.groupBy("n_tokens", "first_tok", "last_tok")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("exemplar_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "first_tok", "last_tok",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("exemplar_doc").cast("bigint").alias("exemplar_doc"),
        )
    )


# ---------------------------------------------------------------------------
# LSH candidate funnel (cost observability for the banding pipeline)
# ---------------------------------------------------------------------------

_FUNNEL_SIG_DUCK = f"""
      SELECT doc_id, i, MIN((h1 + i * h2) % 4294967296) AS m
      FROM (
        SELECT doc_id,
               {md5_int32_duck('s')} AS h1,
               ({md5_int32_duck("concat('b:', s)")} | 1) AS h2
        FROM (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM documents
          ) t0
        ) sh
      ) hs, unnest(range(0, 32)) AS t(i)
      GROUP BY doc_id, i
"""


@register(
    "dedup_lsh_funnel",
    oracle=f"""
    WITH sig AS (
      {_FUNNEL_SIG_DUCK}
    ),
    docband AS (
      SELECT doc_id, i // 4 AS band_id,
             string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bkey
      FROM sig GROUP BY doc_id, band_id
    ),
    buckets AS (
      SELECT band_id, bkey, COUNT(*) AS n
      FROM docband GROUP BY band_id, bkey
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM docband a JOIN docband b
        ON a.band_id = b.band_id AND a.bkey = b.bkey
           AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.a_id FROM cand c
      JOIN ({_JACCARD_ORACLE}) j
        ON j.a_id = c.a_id AND j.b_id = c.b_id
    )
    SELECT 'bucket_pair_slots' AS stage,
           CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n
    FROM buckets
    UNION ALL
    SELECT 'distinct_candidates', CAST(COUNT(*) AS BIGINT) FROM cand
    UNION ALL
    SELECT 'verified_near_dups', CAST(COUNT(*) AS BIGINT) FROM verified
    """,
    doc="LSH candidate funnel: pair slots generated inside band buckets "
        "-> distinct candidate pairs after dedup -> pairs surviving "
        "exact-Jaccard verification. The three numbers ARE the cost "
        "model of banded dedup (bucket quadratic work, join output, "
        "verify workload) and their ratios are what you tune bands/rows "
        "against — precision of the band stage is "
        "verified/candidates, work amplification is slots/verified. "
        "Built on the md5-affine signature family (the cross-engine "
        "auditable twin of the production xxhash banding in "
        "dedup_minhash_lsh — same 32x8x4 structure, different hash "
        "seeds, so absolute counts differ from production but every "
        "ratio behaves identically).",
)
def dedup_lsh_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_index(spark, sf_dir).persist()
    hs = sh.select(
        "doc_id",
        F.expr(md5_int32_spark("s")).alias("h1"),
        F.expr(md5_int32_spark("concat('b:', s)") + " | 1").alias("h2"),
    )
    sig = (
        hs.select(
            "doc_id", "h1", "h2",
            F.explode(F.expr("sequence(0, 31)")).alias("i"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min(F.expr("(h1 + i * h2) % 4294967296")).alias("m"))
    )
    docband = (
        sig.groupBy("doc_id", F.expr("i DIV 4").alias("band_id"))
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(i, m))),"
                " x -> CAST(x.m AS STRING)), ',')"
            ).alias("bkey")
        )
        .persist()
    )
    buckets = docband.groupBy("band_id", "bkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    slots = buckets.agg(
        F.expr(
            "CAST(COALESCE(SUM(n * (n - 1) DIV 2), 0) AS BIGINT)"
        ).alias("n")
    ).select(F.lit("bucket_pair_slots").alias("stage"), "n")
    a = docband.alias("a")
    b = docband.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
        .persist()
    )
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
        F.lit("distinct_candidates").alias("stage"), "n"
    )
    verified = (
        _exact_jaccard(sh, cand)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("verified_near_dups").alias("stage"), "n")
    )
    return slots.unionByName(n_cand).unionByName(verified)


# ---------------------------------------------------------------------------
# sampled near-dup review queue (human QA artifact)
# ---------------------------------------------------------------------------

REVIEW_SAMPLE_K = 8
REVIEW_SNIPPET = 80


@register(
    "dedup_review_sample",
    oracle=f"""
    WITH pairs AS (
      {_JACCARD_ORACLE}
    ),
    sampled AS (
      SELECT a_id, b_id, jaccard,
             ROW_NUMBER() OVER (
               ORDER BY md5(concat('rev:', a_id, ':', b_id)), a_id, b_id
             ) AS rk
      FROM pairs
    )
    SELECT s.rk, s.a_id, s.b_id, round(s.jaccard, 6) AS jaccard,
           substr(da.text, 1, {REVIEW_SNIPPET}) AS snippet_a,
           substr(db.text, 1, {REVIEW_SNIPPET}) AS snippet_b
    FROM sampled s
    JOIN documents da ON da.doc_id = s.a_id
    JOIN documents db ON db.doc_id = s.b_id
    WHERE s.rk <= {REVIEW_SAMPLE_K}
    """,
    doc=f"Near-dup review queue: a deterministic hash-order sample of "
        f"{REVIEW_SAMPLE_K} verified near-dup pairs with "
        f"{REVIEW_SNIPPET}-char snippets of both sides — the artifact a "
        "human QA pass actually reads before a threshold change ships. "
        "Hash-order sampling keeps the queue stable across re-runs "
        "(graders see the same pairs until the pair set changes), and "
        "snippets join back through the doc ids so the pair pipeline "
        "never carries text. The general pattern: every automated gate "
        "gets a bounded, reproducible human-inspection sample.",
)
def dedup_review_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup_minhash_lsh(spark, sf_dir)
    # Distributed top-k (TakeOrdered: per-partition heads + one tiny
    # merge) bounds the sort to REVIEW_SAMPLE_K rows; the ranking window
    # then runs over just those k rows, never the full unbounded pair set.
    keyed = pairs.withColumn(
        "rev_key", F.expr("md5(concat('rev:', a_id, ':', b_id))"))
    top = keyed.orderBy(
        F.asc("rev_key"), F.asc("a_id"), F.asc("b_id"),
    ).limit(REVIEW_SAMPLE_K)
    w = Window.orderBy(F.asc("rev_key"), F.asc("a_id"), F.asc("b_id"))
    sampled = top.withColumn("rk", F.row_number().over(w)).drop("rev_key")
    da = docs.select(F.col("doc_id").alias("a_id"),
                     F.expr(f"substr(text, 1, {REVIEW_SNIPPET})")
                     .alias("snippet_a"))
    db = docs.select(F.col("doc_id").alias("b_id"),
                     F.expr(f"substr(text, 1, {REVIEW_SNIPPET})")
                     .alias("snippet_b"))
    return (
        sampled.join(da, "a_id")
        .join(db, "b_id")
        .select(
            "rk", "a_id", "b_id",
            F.round("jaccard", 6).alias("jaccard"),
            "snippet_a", "snippet_b",
        )
    )


# ---------------------------------------------------------------------------
# cross-source duplication flow matrix
# ---------------------------------------------------------------------------

@register(
    "dedup_source_flow",
    oracle=f"""
    WITH pairs AS (
      {_JACCARD_ORACLE}
    )
    SELECT LEAST(da.source, db.source) AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN da.source = db.source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within,
           round(MIN(p.jaccard), 6) AS min_jaccard
    FROM pairs p
    JOIN documents da ON da.doc_id = p.a_id
    JOIN documents db ON db.doc_id = p.b_id
    GROUP BY source_x, source_y
    """,
    doc="Cross-source duplication flow matrix: verified near-dup pairs "
        "bucketed by their (unordered) source pair — the mirror/"
        "syndication map that tells a crawl operator WHICH feeds "
        "duplicate each other, versus within-source churn (n_within). "
        "Off-diagonal mass is the actionable finding: two sources "
        "mirroring each other should be deduped at fetch time, not "
        "paid for twice through the whole pipeline. Source labels join "
        "back through doc ids after the pair pipeline (pairs never "
        "carry document payloads); LEAST/GREATEST canonicalizes the "
        "matrix to one triangle.",
)
def dedup_source_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup_minhash_lsh(spark, sf_dir)
    da = docs.select(F.col("doc_id").alias("a_id"),
                     F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("b_id"),
                     F.col("source").alias("src_b"))
    return (
        pairs.join(F.broadcast(da), "a_id")
        .join(F.broadcast(db), "b_id")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr(
                "CAST(SUM(CASE WHEN src_a = src_b THEN 1 ELSE 0 END) "
                "AS BIGINT)"
            ).alias("n_within"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# chunk-level cross-document duplication (sub-document dedup accounting)
# ---------------------------------------------------------------------------

DEDUP_CHUNK_TOKENS = 100  # non-overlapping dedup units (no stride overlap)


@register(
    "dedup_chunk_level",
    # NON-overlapping chunks on purpose: dedup units must partition the
    # document (the RAG chunker's 20-token overlap would double-count
    # boundary duplication); a chunk is duplicated when its md5 appears
    # in >= 2 distinct documents
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(toks, i * {DEDUP_CHUNK_TOKENS} + 1,
                          (i + 1) * {DEDUP_CHUNK_TOKENS}), ' ')) AS h
      FROM t, unnest(range(0,
             CAST(ceil(len(toks) / {DEDUP_CHUNK_TOKENS}.0) AS BIGINT)))
             AS u(i)
    ),
    freq AS (
      SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (f.n_docs >= 2) AS BIGINT) AS n_dup_chunks,
           round(CAST(COUNT(*) FILTER (f.n_docs >= 2) AS DOUBLE)
                 / COUNT(*), 6) AS dup_chunk_ratio
    FROM chunks c JOIN freq f ON f.h = c.h
    GROUP BY c.doc_id
    """,
    doc=f"Chunk-level cross-document duplication: documents cut into "
        f"NON-overlapping {DEDUP_CHUNK_TOKENS}-token chunks, each hashed, "
        "and a chunk counts as duplicated when its hash occurs in >= 2 "
        "distinct documents — the sub-document dedup grain (Lee et al.'s "
        "'Deduplicating Training Data' operates at exactly this level: "
        "documents are usually partially duplicated, and doc-level "
        "MinHash misses a half-copied page where chunk hashes catch it). "
        "Per-doc output = removable chunk accounting for surgical "
        "dedup. Scale shape: chunking is per-row array slicing (no "
        "shuffle), then one shuffle on chunk hash for the frequency "
        "count and one map-side-combinable per-doc aggregate — no pair "
        "join anywhere, so cost is linear in corpus chunks.",
)
def dedup_chunk_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    n_chunks_expr = (
        f"CAST(ceil(size(toks) / {DEDUP_CHUNK_TOKENS}.0) AS BIGINT)"
    )
    chunks = (
        docs.select("doc_id", F.expr("split(text, ' ')").alias("toks"))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, {n_chunks_expr} - 1)")).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            F.expr(
                f"md5(array_join(slice(toks, i * {DEDUP_CHUNK_TOKENS} + 1, "
                f"{DEDUP_CHUNK_TOKENS}), ' '))"
            ).alias("h"),
        )
    )
    freq = chunks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_chunks"),
            F.expr(
                "CAST(COUNT(*) FILTER (WHERE n_docs >= 2) AS BIGINT)"
            ).alias("n_dup_chunks"),
            F.expr(
                "round(CAST(COUNT(*) FILTER (WHERE n_docs >= 2) AS DOUBLE)"
                " / COUNT(*), 6)"
            ).alias("dup_chunk_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# b-bit MinHash: 16x smaller signatures, bias-corrected estimator audit
# ---------------------------------------------------------------------------

BBIT_B = 2  # bits kept per slot (Li & Koenig: 32 slots x 2 bits = 8 bytes)


@register(
    "dedup_minhash_bbit_eval",
    # keeping only the lowest b bits of each minhash slot shrinks the
    # signature 16x; random non-matching slots then collide with
    # probability 1/2^b, so the unbiased estimator inverts the mixture:
    # j_hat = (A - 1/2^b) / (1 - 1/2^b) with A = agreements/32. The audit
    # scores the corrected estimate against exact Jaccard on the pairs
    # the FULL signature flags (same candidate set as
    # dedup_minhash_estimate_eval -> the deltas are attributable to the
    # bit truncation alone).
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({{SHINGLES}}) AS s FROM documents
      ) t0
    ),
    hs AS (
      SELECT doc_id, s,
             {{H1}} AS h1,
             ({{H2}} | 1) AS h2
      FROM sh
    ),
    sig AS (
      SELECT doc_id, i, MIN((h1 + i * h2) % 4294967296) AS m
      FROM hs, unnest(range(0, 32)) AS t(i)
      GROUP BY doc_id, i
    ),
    agree AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS k_full,
             SUM(CASE WHEN a.m % {1 << BBIT_B} = b.m % {1 << BBIT_B}
                 THEN 1 ELSE 0 END) AS k_bbit
      FROM sig a JOIN sig b ON a.i = b.i AND a.doc_id < b.doc_id
      GROUP BY a_id, b_id
      HAVING SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
             >= {{MIN_AGREE}}
    ),
    ex AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a_id, b_id
    ),
    counts AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id)
    SELECT g.a_id, g.b_id,
           CAST(g.k_bbit AS BIGINT) AS n_agree_bbit,
           round((CAST(g.k_bbit AS DOUBLE) / 32 - {1.0 / (1 << BBIT_B)})
                 / {1.0 - 1.0 / (1 << BBIT_B)}, 6) AS est_bbit,
           round(CAST(COALESCE(e.inter, 0) AS DOUBLE)
                 / (ca.c + cb.c - COALESCE(e.inter, 0)), 6) AS exact_jaccard,
           round(abs((CAST(g.k_bbit AS DOUBLE) / 32 - {1.0 / (1 << BBIT_B)})
                     / {1.0 - 1.0 / (1 << BBIT_B)}
                     - CAST(COALESCE(e.inter, 0) AS DOUBLE)
                       / (ca.c + cb.c - COALESCE(e.inter, 0))), 6) AS abs_err
    FROM agree g
    LEFT JOIN ex e ON e.a_id = g.a_id AND e.b_id = g.b_id
    JOIN counts ca ON ca.doc_id = g.a_id
    JOIN counts cb ON cb.doc_id = g.b_id
    """.format(
        SHINGLES=SHINGLES_DUCK,
        H1=md5_int32_duck("s"),
        H2=md5_int32_duck("concat('b:', s)"),
        MIN_AGREE=EST_EVAL_MIN_AGREE,
    ),
    doc=f"b-bit MinHash audit (Li & Koenig, WWW'10): keep only the lowest "
        f"{BBIT_B} bits of every signature slot — a 32-slot sketch fits "
        "in 8 bytes per document, 16x smaller than full 32-bit slots — "
        "and score the bias-corrected estimator (A - 1/2^b)/(1 - 1/2^b) "
        "against exact Jaccard on the SAME candidate pairs the full "
        "signature flags, so the reported error isolates what the bit "
        "truncation costs. At 100 TB the memory factor decides whether "
        "signatures broadcast or shuffle, which makes this trade a "
        "first-class tuning input, monitored under the same gate as the "
        "full-width estimator audit.",
)
def dedup_minhash_bbit_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_index(spark, sf_dir).persist()
    hs = sh.select(
        "doc_id",
        F.expr(md5_int32_spark("s")).alias("h1"),
        F.expr(md5_int32_spark("concat('b:', s)") + " | 1").alias("h2"),
    )
    sig = (
        hs.select(
            "doc_id", "h1", "h2",
            F.explode(F.expr("sequence(0, 31)")).alias("i"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min(F.expr("(h1 + i * h2) % 4294967296")).alias("m"))
    )
    a = sig.alias("a")
    b = sig.alias("b")
    mask = 1 << BBIT_B
    agree = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(
            F.expr("SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)").alias("k_full"),
            F.expr(
                f"SUM(CASE WHEN a.m % {mask} = b.m % {mask} "
                "THEN 1 ELSE 0 END)"
            ).alias("k_bbit"),
        )
        .filter(F.col("k_full") >= EST_EVAL_MIN_AGREE)
    )
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    ex = (
        sa.join(
            sb,
            (F.col("sa.s") == F.col("sb.s"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("a_id"), F.col("sb.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("c").alias("ca"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("c").alias("cb"))
    base = 1.0 / mask
    est = f"(CAST(k_bbit AS DOUBLE) / 32 - {base}) / {1.0 - base}"
    exact = (
        "CAST(COALESCE(inter, 0) AS DOUBLE) / (ca + cb - COALESCE(inter, 0))"
    )
    return (
        agree.join(ex, ["a_id", "b_id"], "left")
        .join(F.broadcast(ca), "a_id")
        .join(F.broadcast(cb), "b_id")
        .select(
            "a_id", "b_id",
            F.col("k_bbit").cast("bigint").alias("n_agree_bbit"),
            F.expr(f"round({est}, 6)").alias("est_bbit"),
            F.expr(f"round({exact}, 6)").alias("exact_jaccard"),
            F.expr(f"round(abs({est} - {exact}), 6)").alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# LSH band-plan audit (the S-curve that justifies the b x r configuration)
# ---------------------------------------------------------------------------

_BAND_ROWS = N_HASHES // N_BANDS  # 4 min-hashes per band


@register(
    "dedup_minhash_band_planner",
    # pure closed-form math on a jaccard grid — both engines evaluate the
    # same rounded-double expression on the same integers
    oracle=f"""
    SELECT round(j / 100.0, 2) AS jaccard,
           round(pow(j / 100.0, {_BAND_ROWS}), 6) AS p_band_match,
           round(1 - pow(1 - pow(j / 100.0, {_BAND_ROWS}), {N_BANDS}), 6)
             AS p_candidate,
           CAST({N_BANDS} AS BIGINT) AS n_bands,
           CAST({_BAND_ROWS} AS BIGINT) AS rows_per_band
    FROM (SELECT unnest(range(5, 100, 5)) AS j)
    ORDER BY jaccard
    """,
    doc=f"MinHash LSH band-plan audit: the collision S-curve "
        f"1-(1-j^r)^b for the configured plan (b={N_BANDS} bands x "
        f"r={_BAND_ROWS} rows) over a Jaccard grid — the table that "
        "justifies (or indicts) the dedup configuration before a 100 TB "
        "campaign: read off the candidate probability at the target "
        "near-dup threshold and at the just-below-threshold mass that "
        "will flood the verifier. Pair it with dedup_posting_profile "
        "(observed hot keys) and emb_lsh_bucket_audit (observed pair "
        "volume): planned selectivity vs measured occupancy is the "
        "whole LSH capacity story. Driver-side constant math, zero scan.",
)
def dedup_minhash_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.range(1, 20).select(
        (F.col("id") * 5).alias("jpct")
    )
    return grid.select(
        F.expr("round(CAST(jpct AS DOUBLE) / 100.0, 2)").alias("jaccard"),
        F.expr(
            f"round(pow(jpct / 100.0, {_BAND_ROWS}), 6)"
        ).alias("p_band_match"),
        F.expr(
            f"round(1 - pow(1 - pow(jpct / 100.0, {_BAND_ROWS}), "
            f"{N_BANDS}), 6)"
        ).alias("p_candidate"),
        F.expr(f"CAST({N_BANDS} AS BIGINT)").alias("n_bands"),
        F.expr(f"CAST({_BAND_ROWS} AS BIGINT)").alias("rows_per_band"),
    ).orderBy("jaccard")


# ---------------------------------------------------------------------------
# dedup threshold sweep (the what-if table before committing to a cutoff)
# ---------------------------------------------------------------------------

#: candidate thresholds swept; the floor bounds the pair materialization
#: (at corpus scale the sweep runs over the LSH-verified pair set, which
#: is already jaccard-floored — here the exact index plays that role)
SWEEP_THETAS = (0.3, 0.5, 0.7, 0.8, 0.9)
_SWEEP_FLOOR = 0.3


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest({SHINGLES_DUCK}) AS s FROM documents
      )
    ), counts AS (
      SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id
    ), j AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS DOUBLE) / (ca.c + cb.c - COUNT(*)) AS jac
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      JOIN counts ca ON ca.doc_id = a.doc_id
      JOIN counts cb ON cb.doc_id = b.doc_id
      GROUP BY a_id, b_id, ca.c, cb.c
      HAVING CAST(COUNT(*) AS DOUBLE) / (ca.c + cb.c - COUNT(*))
             >= {_SWEEP_FLOOR}
    ),
    th AS (
      SELECT CAST(unnest(ARRAY{list(SWEEP_THETAS)}) AS DOUBLE) AS theta
    ),
    edges AS (
      SELECT th.theta, j.a_id, j.b_id FROM j, th WHERE j.jac >= th.theta
    ),
    docs_in AS (
      SELECT theta, a_id AS d FROM edges
      UNION ALL SELECT theta, b_id FROM edges
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT th.theta,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(di.n_docs, 0) AS BIGINT) AS n_docs_in_pairs,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed_greedy,
           round(CAST(COALESCE(r.n_removed, 0) AS DOUBLE) / total.n, 6)
             AS removed_frac
    FROM th
    LEFT JOIN (SELECT theta, COUNT(*) AS n_pairs FROM edges GROUP BY theta)
      p ON p.theta = th.theta
    LEFT JOIN (SELECT theta, COUNT(DISTINCT d) AS n_docs FROM docs_in
               GROUP BY theta) di ON di.theta = th.theta
    LEFT JOIN (SELECT theta, COUNT(DISTINCT b_id) AS n_removed FROM edges
               GROUP BY theta) r ON r.theta = th.theta
    CROSS JOIN total
    ORDER BY th.theta
    """,
    doc=f"Near-dup threshold sweep over {SWEEP_THETAS}: for each candidate "
        "Jaccard cutoff, the surviving pair count, the docs touched, and "
        "the kill-list size under the keep-lowest-id rule (remove the "
        "higher doc_id of every pair) with its corpus fraction — the "
        "what-if table a dedup campaign reads BEFORE committing to a "
        "threshold, where one number separates 'removes 2% boilerplate' "
        "from 'guts 30% of the corpus'. Pairs are materialized once at "
        f"the {_SWEEP_FLOOR} floor and swept by a constant 5-way "
        "explode; at 100 TB the same sweep runs over the LSH-verified "
        "pair set (already floored) instead of the exact index, so the "
        "added cost over one dedup pass is a 5x fan-out of the PAIR "
        "table only, never of the corpus.",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    sh = _shingle_index(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("c").alias("ca"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("c").alias("cb"))
    j = (
        inter.join(F.broadcast(ca), "a_id")
        .join(F.broadcast(cb), "b_id")
        .select(
            "a_id", "b_id",
            (F.col("inter").cast("double")
             / (F.col("ca") + F.col("cb") - F.col("inter"))).alias("jac"),
        )
        .filter(F.col("jac") >= _SWEEP_FLOOR)
    )
    edges = j.select(
        "a_id", "b_id", "jac",
        F.explode(F.array(*[F.lit(t) for t in SWEEP_THETAS])).alias("theta"),
    ).filter(F.col("jac") >= F.col("theta"))
    per_theta = edges.groupBy("theta").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pairs"),
        F.expr("CAST(COUNT(DISTINCT b_id) AS BIGINT)").alias(
            "n_removed_greedy"
        ),
    )
    docs_in = (
        edges.select("theta", F.col("a_id").alias("d"))
        .unionAll(edges.select("theta", F.col("b_id").alias("d")))
        .groupBy("theta")
        .agg(F.expr("CAST(COUNT(DISTINCT d) AS BIGINT)").alias(
            "n_docs_in_pairs"))
    )
    total = docs.agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"))
    thetas = spark.createDataFrame(
        [(t,) for t in SWEEP_THETAS], "theta double"
    )
    return (
        thetas.join(F.broadcast(per_theta), "theta", "left")
        .join(F.broadcast(docs_in), "theta", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "theta",
            F.expr("CAST(COALESCE(n_pairs, 0) AS BIGINT)").alias("n_pairs"),
            F.expr(
                "CAST(COALESCE(n_docs_in_pairs, 0) AS BIGINT)"
            ).alias("n_docs_in_pairs"),
            F.expr(
                "CAST(COALESCE(n_removed_greedy, 0) AS BIGINT)"
            ).alias("n_removed_greedy"),
            F.expr(
                "round(CAST(COALESCE(n_removed_greedy, 0) AS DOUBLE) / n, 6)"
            ).alias("removed_frac"),
        )
        .orderBy("theta")
    )


# ---------------------------------------------------------------------------
# leakage-safe split (the constructive counterpart of dedup_split_leakage)
# ---------------------------------------------------------------------------

SAFE_SPLIT_TRAIN_PCT = 90


@register(
    "sample_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {_JACCARD_ORACLE}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    walk(doc_id, reach) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, w.reach FROM edges e JOIN walk w ON w.doc_id = e.dst
    ),
    clusters AS (
      SELECT doc_id, CAST(MIN(reach) AS BIGINT) AS cluster_id
      FROM walk GROUP BY doc_id
    ),
    assigned AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN ('0x' || substr(md5(concat('split:', cluster_id)), 1, 8))
                     ::BIGINT % 100 < {SAFE_SPLIT_TRAIN_PCT}
                THEN 'train' ELSE 'eval' END AS split
    FROM assigned
    """,
    doc=f"Leakage-safe train/eval split: the assignment unit is the "
        "NEAR-DUP CLUSTER, not the document — every member of a "
        "connected component of near-duplicate pairs hashes to the same "
        f"side ({SAFE_SPLIT_TRAIN_PCT}/"
        f"{100 - SAFE_SPLIT_TRAIN_PCT} by cluster-id hash), so the "
        "train→eval contamination dedup_split_leakage AUDITS is "
        "impossible by construction (a doc-level hash split puts "
        "near-identical docs on both sides). Singleton docs are their "
        "own cluster. Cost on top of one dedup pass: a left join of the "
        "cluster map plus a per-row hash — the split rides the dedup "
        "campaign's output at any corpus size.",
)
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    clusters = dedup_clusters(spark, sf_dir)
    assigned = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.expr("COALESCE(cluster_id, doc_id)").alias("cluster_id"),
    )
    return assigned.select(
        "doc_id", "cluster_id",
        F.expr(
            "CASE WHEN CAST(conv(substr(md5(concat('split:', cluster_id)),"
            f" 1, 8), 16, 10) AS BIGINT) % 100 < {SAFE_SPLIT_TRAIN_PCT} "
            "THEN 'train' ELSE 'eval' END"
        ).alias("split"),
    )


# ---------------------------------------------------------------------------
# keeper-policy eval: what keep-lowest-id costs vs keep-best-quality
# ---------------------------------------------------------------------------

@register(
    "dedup_keeper_policy_eval",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {_JACCARD_ORACLE}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    walk(doc_id, reach) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, w.reach FROM edges e JOIN walk w ON w.doc_id = e.dst
    ),
    clusters AS (
      SELECT doc_id, CAST(MIN(reach) AS BIGINT) AS cluster_id
      FROM walk GROUP BY doc_id
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, {_UNIQ_RATIO_DUCK} AS uniq_ratio,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY {_UNIQ_RATIO_DUCK} DESC, c.doc_id)
               AS rk_best,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY c.doc_id) AS rk_id
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    ),
    per AS (
      SELECT cluster_id,
             MAX(CASE WHEN rk_best = 1 THEN doc_id END) AS best_doc,
             MAX(CASE WHEN rk_best = 1 THEN uniq_ratio END) AS best_ratio,
             MAX(CASE WHEN rk_id = 1 THEN doc_id END) AS minid_doc,
             MAX(CASE WHEN rk_id = 1 THEN uniq_ratio END) AS minid_ratio
      FROM ranked GROUP BY cluster_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN best_doc = minid_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           round(CAST(SUM(CASE WHEN best_doc = minid_doc THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS agree_rate,
           round(CAST(SUM(CAST(round(best_ratio - minid_ratio, 9)
                               AS DECIMAL(20,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_quality_delta
    FROM per
    """,
    doc="Keeper-policy evaluation: for every near-dup cluster, compare "
        "the document the CHEAP policy keeps (lowest doc_id — what "
        "kill-list pipelines default to because it needs no quality "
        "join) against the keep-best-quality choice (dedup_keep_best), "
        "and report the agreement rate plus the mean lexical-diversity "
        "quality forfeited — the measurement that decides whether the "
        "quality join is worth adding to a 100 TB dedup campaign. "
        "Per-cluster deltas are differences of two per-row-deterministic "
        "ratios, rounded at 9dp and DECIMAL-summed; both rankings run "
        "in cluster-partitioned windows over the clustered (semi-join-"
        "sized) fraction of the corpus only.",
)
def dedup_keeper_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    clusters = dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")["documents"]
    quality = docs.select(
        "doc_id", F.expr(_UNIQ_RATIO_SPARK).alias("uniq_ratio")
    )
    joined = clusters.join(quality, "doc_id")
    w_best = Window.partitionBy("cluster_id").orderBy(
        F.desc("uniq_ratio"), F.asc("doc_id")
    )
    w_id = Window.partitionBy("cluster_id").orderBy(F.asc("doc_id"))
    ranked = joined.select(
        "cluster_id", "doc_id", "uniq_ratio",
        F.row_number().over(w_best).alias("rk_best"),
        F.row_number().over(w_id).alias("rk_id"),
    )
    per = ranked.groupBy("cluster_id").agg(
        F.expr("MAX(CASE WHEN rk_best = 1 THEN doc_id END)").alias(
            "best_doc"),
        F.expr("MAX(CASE WHEN rk_best = 1 THEN uniq_ratio END)").alias(
            "best_ratio"),
        F.expr("MAX(CASE WHEN rk_id = 1 THEN doc_id END)").alias(
            "minid_doc"),
        F.expr("MAX(CASE WHEN rk_id = 1 THEN uniq_ratio END)").alias(
            "minid_ratio"),
    )
    return per.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_clusters"),
        F.expr(
            "CAST(SUM(CASE WHEN best_doc = minid_doc THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_agree"),
        F.expr(
            "round(CAST(SUM(CASE WHEN best_doc = minid_doc THEN 1 ELSE 0 "
            "END) AS DOUBLE) / COUNT(*), 6)"
        ).alias("agree_rate"),
        F.expr(
            "round(CAST(SUM(CAST(round(best_ratio - minid_ratio, 9)"
            " AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6)"
        ).alias("mean_quality_delta"),
    )


# ---------------------------------------------------------------------------
# transitivity audit of the near-dup pair graph (CC chaining risk)
# ---------------------------------------------------------------------------

@register(
    "dedup_transitivity_audit",
    oracle=f"""
    WITH pairs AS (
      {_JACCARD_ORACLE}
    ),
    und AS (
      SELECT a_id AS x, b_id AS y FROM pairs
      UNION ALL
      SELECT b_id AS x, a_id AS y FROM pairs
    ),
    wedges AS (
      SELECT l.y AS m, l.x AS a, r.y AS b
      FROM und l JOIN und r ON r.x = l.y AND l.x < r.y
    ),
    closed AS (
      SELECT w.m, w.a, w.b
      FROM wedges w JOIN pairs p ON p.a_id = w.a AND p.b_id = w.b
    )
    SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_pairs,
           CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
           CAST((SELECT COUNT(*) FROM closed) AS BIGINT) AS n_closed,
           CASE WHEN (SELECT COUNT(*) FROM wedges) > 0 THEN
             round(CAST((SELECT COUNT(*) FROM closed) AS DOUBLE)
                   / (SELECT COUNT(*) FROM wedges), 6)
           END AS closure_rate
    FROM (SELECT 1) one
    """,
    doc="Transitivity audit of the near-duplicate pair graph: the "
        "fraction of open wedges (a~m, m~b) whose endpoints are ALSO a "
        "direct near-dup pair (a~b). Connected-component clustering "
        "(dedup_clusters) implicitly assumes near-duplication is "
        "transitive — a LOW closure rate means CC is chaining unrelated "
        "documents through middlemen (the classic over-merge failure "
        "that a higher Jaccard threshold or star-clustering fixes), so "
        "this single number is the empirical justification for the "
        "clustering method choice. All integer counts over int-keyed "
        "joins; wedge volume is bounded by the (already thresholded) "
        "pair set's degree sequence, never by the corpus.",
)
def dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id").persist()
    und = pairs.select(
        F.col("a_id").alias("x"), F.col("b_id").alias("y")
    ).unionAll(
        pairs.select(F.col("b_id").alias("x"), F.col("a_id").alias("y"))
    )
    left = und.select(F.col("x").alias("a"), F.col("y").alias("m"))
    right = und.select(F.col("x").alias("m2"), F.col("y").alias("b"))
    wedges = left.join(
        right, (F.col("m") == F.col("m2")) & (F.col("a") < F.col("b"))
    ).select("m", "a", "b").persist()
    closed = wedges.join(
        pairs, (F.col("a") == F.col("a_id")) & (F.col("b") == F.col("b_id"))
    )
    n_pairs = pairs.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pairs"))
    n_wedges = wedges.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_wedges"))
    n_closed = closed.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_closed"))
    return (
        n_pairs.crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_closed))
        .select(
            "n_pairs", "n_wedges", "n_closed",
            F.expr(
                "CASE WHEN n_wedges > 0 THEN"
                " round(CAST(n_closed AS DOUBLE) / n_wedges, 6) END"
            ).alias("closure_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix filtering (SSJoin/PPJoin family) — exact-recall candidate pruning
# ---------------------------------------------------------------------------

@register(
    "dedup_prefix_filter_pairs",
    oracle=_JACCARD_ORACLE,
    doc="Prefix-filtered exact Jaccard pairs (SSJoin/PPJoin family, cf. "
        "Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): order every "
        "document's distinct shingles by ascending document frequency "
        "(rarest first — one global df aggregate + a per-doc window), "
        "keep only the first c - ceil(t*c) + 1 as the doc's PREFIX, and "
        "self-join prefixes instead of full posting lists. Any pair with "
        "Jaccard >= t provably shares a prefix shingle, so recall is "
        "100% BY CONSTRUCTION (the oracle is the full exact-Jaccard "
        "output) while the inverted-index join shrinks to ~(1-t) of the "
        "postings and hot (high-df) shingles — the quadratic blowup in "
        "the naive join — land at the END of the order and mostly fall "
        "out of every prefix. The length filter 5*min(c) >= 4*max(c) "
        "prunes cross-size candidates in exact integers (t = 4/5; float "
        "ceil(0.8*c) misrounds at representable boundaries). The "
        "alternative scale path to dedup_minhash_lsh: deterministic, "
        "no signature cost, exact recall.",
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    sh = _shingle_index(spark, sf_dir)  # distinct (doc_id, s)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    # prefix length L = c - ceil(t*c) + 1 with t = 4/5 in exact integers
    ranked = (
        sh.join(dfreq, "s")
        .join(sizes, "doc_id")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .filter(F.expr("pos <= c - ((4 * c + 4) DIV 5) + 1"))
        .select("doc_id", "s", "c")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # Jaccard >= 4/5 forces 5*min(|A|,|B|) >= 4*max(|A|,|B|)
            & (
                F.expr("5 * least(a.c, b.c) >= 4 * greatest(a.c, b.c)")
            ),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    # same distributed-materialization discipline as dedup_minhash_lsh:
    # the verify stage references the candidate set three times
    candidates = candidates.persist()
    candidates.count()
    cand_docs = (
        candidates.select(F.col("a_id").alias("doc_id"))
        .union(candidates.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sh2 = _shingle_index(spark, sf_dir, cand_docs)
    return _exact_jaccard(sh2, candidates)


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) dedup — LBFS/FastCDC-style boundaries
# ---------------------------------------------------------------------------

#: rolling-window width (chars) and boundary divisor: a chunk boundary
#: falls after position i whenever the window hash of the last
#: CDC_WINDOW chars ≡ 0 (mod CDC_DIVISOR) → expected chunk length ≈
#: CDC_DIVISOR chars. Unlike fixed-size chunks (dedup_chunk_level), a
#: one-char insertion shifts only the chunks that TOUCH the edit —
#: boundaries elsewhere re-synchronize, which is why storage dedup
#: systems (LBFS, FastCDC) cut on content, not offsets.
CDC_WINDOW = 16
CDC_DIVISOR = 32


def _cdc_sql(hash_int: str, positions_from: str) -> str:
    """One SQL text for both engines. Parameterized only on the
    hex-md5→BIGINT conversion and the per-doc position enumeration
    (LATERAL VIEW explode(sequence(...)) vs unnest(generate_series));
    everything downstream — boundary test, LAG-based chunk extraction,
    per-source dedup accounting — is shared verbatim. All outputs are
    exact integers or single divisions of exact integers."""
    w, d = CDC_WINDOW, CDC_DIVISOR
    win = f"substr(text, i - {w} + 1, {w})"
    return f"""
    WITH pos AS (
      SELECT doc_id, text, n_chars, i
      FROM {positions_from}
    ),
    content_cuts AS (
      SELECT doc_id, i FROM pos
      WHERE {hash_int.format(x=win)} % {d} = 0
    ),
    cuts AS (
      SELECT DISTINCT doc_id, i FROM (
        SELECT doc_id, i FROM content_cuts
        UNION ALL
        SELECT doc_id, CAST(n_chars AS BIGINT) AS i
        FROM documents WHERE n_chars > 0
      ) u
    ),
    chunks AS (
      SELECT doc_id,
             substr(text, CAST(prev + 1 AS INT),
                    CAST(i - prev AS INT)) AS chunk
      FROM (
        SELECT c.doc_id, c.i,
               LAG(c.i, 1, 0) OVER (PARTITION BY c.doc_id
                                    ORDER BY c.i) AS prev,
               d2.text
        FROM cuts c JOIN documents d2 ON d2.doc_id = c.doc_id
      ) bounded
    ),
    hashed AS (
      SELECT d3.source, md5(chunk) AS h,
             CAST(length(chunk) AS BIGINT) AS clen
      FROM chunks c2 JOIN documents d3 ON d3.doc_id = c2.doc_id
    ),
    byhash AS (
      SELECT source, h, MIN(clen) AS clen,
             CAST(COUNT(*) AS BIGINT) AS occ
      FROM hashed GROUP BY source, h
    )
    SELECT source,
           CAST(SUM(occ) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(occ * clen) AS BIGINT) AS total_chars,
           CAST(SUM((occ - 1) * clen) AS BIGINT) AS dup_chars_saved,
           round(CAST(SUM(occ * clen) AS DOUBLE)
                 / CAST(SUM(occ) AS DOUBLE), 4) AS avg_chunk_len,
           round(CAST(SUM((occ - 1) * clen) AS DOUBLE)
                 / CAST(SUM(occ * clen) AS DOUBLE), 6) AS dedup_ratio
    FROM byhash
    GROUP BY source
    ORDER BY source
    """


_CDC_HASH_SPARK = "CAST(conv(substr(md5({x}), 1, 8), 16, 10) AS BIGINT)"
_CDC_HASH_DUCK = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


@register(
    "dedup_cdc_chunks",
    oracle=_cdc_sql(
        _CDC_HASH_DUCK,
        f"(SELECT doc_id, text, n_chars,"
        f" unnest(generate_series({CDC_WINDOW}, n_chars)) AS i"
        f" FROM documents) p",
    ),
    doc=f"Content-defined chunking (LBFS/FastCDC family): a chunk "
        f"boundary falls wherever the {CDC_WINDOW}-char window hash ≡ 0 "
        f"(mod {CDC_DIVISOR}), so boundaries RE-SYNCHRONIZE after an "
        "edit instead of shifting every downstream chunk the way "
        "fixed-size chunking (dedup_chunk_level) does — the standard "
        "storage-dedup technique, here giving per-source chunk-level "
        "duplication accounting (chars saved by dedup, dedup ratio, "
        "distinct-chunk counts). Every position's boundary test is "
        "independent → embarrassingly parallel; chunk extraction is "
        "one LAG window partitioned by doc_id; the accounting is two "
        "map-side-combinable aggregations. No sequential scan "
        "anywhere, so the plan scales with input splits.",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    docs.createOrReplaceTempView("documents")
    # Guard n_chars >= window BEFORE the generator: Spark's
    # sequence(16, n) yields a DESCENDING array [16..n] when n < 16,
    # which would enumerate bogus window positions whose substr()
    # windows (non-positive start → whole/suffix text) can hash to a
    # spurious chunk cut that the oracle's generate_series (empty for
    # n < 16) never produces.
    return spark.sql(
        _cdc_sql(
            _CDC_HASH_SPARK,
            f"(SELECT doc_id, text, n_chars, i FROM documents"
            f" LATERAL VIEW explode(sequence({CDC_WINDOW},"
            f" CAST(n_chars AS INT))) t AS i"
            f" WHERE n_chars >= {CDC_WINDOW}) p",
        )
    )


@register(
    "stream_incremental_minhash_ingest",
    oracle=_INCR_MINHASH_ORACLE,
    doc="Streaming incremental NEAR-dup ingest — the dedup family joins "
        "the LSH/BM25/PQ streaming-maintenance matrix: the daily document "
        "batch arrives as a Structured Streaming file source over several "
        "micro-batches (maxFilesPerTrigger=1, availableNow + checkpoint); "
        "each micro-batch appends its minhash band rows to the ONE "
        "persistent band index (old part files byte-stable) and probes "
        "them against the index SNAPSHOT frozen at stream start, "
        "verifying new-vs-existing candidates by exact jaccard and "
        "streaming the confirmed dup ids to an artifact — per-document "
        "probes are independent, so the union over micro-batches equals "
        "the batch pass. The IN-BATCH pairing is computed after the drain "
        "from the appended band rows alone (glob difference vs the "
        "snapshot file list): an in-batch near-dup pair can land with its "
        "smaller doc_id in a LATER micro-batch than its larger one, so "
        "arrival-order probing would misclassify it — the honest "
        "streaming contract is maintenance + existing-probe per "
        "micro-batch, batch-internal dedup from the index artifact at "
        "batch close (exactly how a daily crawl pipeline runs). Same "
        "oracle as dedup_incremental_minhash, so the hash gate proves "
        "the decomposition equals the one-shot batch operator.",
)
def stream_incremental_minhash_ingest(
    spark: SparkSession,
    sf_dir: str,
    *,
    artifact_base_dir: "str | None" = None,
) -> DataFrame:
    import glob
    import os
    import tempfile

    from ..streaming import await_drained

    docs = load(spark, sf_dir, "documents")["documents"]

    if artifact_base_dir is not None:
        index_dir = os.path.join(artifact_base_dir, "index")
        exist_dups_dir = os.path.join(artifact_base_dir, "exist_dups")
        in_dir = os.path.join(artifact_base_dir, "in")
        ckpt_dir = os.path.join(artifact_base_dir, "ckpt")
        for d in (index_dir, exist_dups_dir, in_dir):
            os.makedirs(d, exist_ok=True)
    else:
        index_dir = tempfile.mkdtemp(prefix="stream_mh_index_")
        exist_dups_dir = tempfile.mkdtemp(prefix="stream_mh_dups_")
        in_dir = tempfile.mkdtemp(prefix="stream_mh_in_")
        ckpt_dir = tempfile.mkdtemp(prefix="stream_mh_ckpt_")

    # the persistent index artifact (existing corpus only), written once;
    # freeze the snapshot by EXPLICIT file list — reads over the directory
    # would lazily pick up this stream's own appends
    existing = docs.filter(F.col("doc_id") < INCR_SPLIT)
    _minhash_bands(existing).write.mode("overwrite").parquet(index_dir)
    snapshot_files = sorted(glob.glob(os.path.join(index_dir, "*.parquet")))
    index_snapshot = spark.read.parquet(*snapshot_files)
    # seed the streamed-dups artifact so the post-drain read never races
    # an all-novel run (no micro-batch may ever append)
    docs.select("doc_id").limit(0).write.mode("overwrite").parquet(
        exist_dups_dir
    )

    docs.filter(F.col("doc_id") >= INCR_SPLIT).repartition(4).write.mode(
        "overwrite"
    ).parquet(in_dir)
    raw_schema = docs.schema

    def process(batch_df, _batch_id) -> None:
        mb_bands = _minhash_bands(batch_df)
        # maintenance write: append this micro-batch's band rows to the
        # one persistent index (old files byte-stable)
        mb_bands.write.mode("append").parquet(index_dir)
        # probe vs the frozen snapshot: new-vs-existing candidates only
        cand = (
            index_snapshot.alias("a")
            .join(
                mb_bands.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"),
            )
            .distinct()
        )
        cand_docs = (
            cand.select(F.col("a_id").alias("doc_id"))
            .union(cand.select(F.col("b_id").alias("doc_id")))
            .distinct()
        )
        sh = _shingle_index(spark, sf_dir, cand_docs)
        verified = _exact_jaccard(sh, cand)
        verified.select(F.col("b_id").alias("doc_id")).distinct().write.mode(
            "append"
        ).parquet(exist_dups_dir)

    query = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(query)

    # in-batch pairing from the ARTIFACT: the appended band rows are the
    # files the snapshot list does not contain
    batch_files = sorted(
        set(glob.glob(os.path.join(index_dir, "*.parquet")))
        - set(snapshot_files)
    )
    batch_bands = spark.read.parquet(*batch_files)
    bcand = (
        batch_bands.alias("a")
        .join(
            batch_bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
        )
        .distinct()
    )
    bcand_docs = (
        bcand.select(F.col("a_id").alias("doc_id"))
        .union(bcand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    dup_batch = (
        _exact_jaccard(_shingle_index(spark, sf_dir, bcand_docs), bcand)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("is_batch_dup", F.lit(True))
    )
    dup_exist = (
        spark.read.parquet(exist_dups_dir)
        .distinct()
        .withColumn("is_exist_dup", F.lit(True))
    )
    new_docs = docs.filter(F.col("doc_id") >= INCR_SPLIT).select("doc_id")
    return (
        new_docs.join(F.broadcast(dup_exist), "doc_id", "left")
        .join(F.broadcast(dup_batch), "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN is_exist_dup THEN 'near_dup_of_existing' "
                "WHEN is_batch_dup THEN 'near_dup_in_batch' "
                "ELSE 'novel' END"
            ).alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# ExactSubstr character-span dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better")
# ---------------------------------------------------------------------------

#: anchor length in characters — the paper's suffix-array method reports
#: all repeated substrings >= 50 BPE tokens; here the unit is characters
#: and the anchor is the MINIMUM reportable span (runs of overlapping
#: anchors merge into maximal spans below)
EXSUB_K = 30
#: document-frequency cap on anchors: an anchor present in more than this
#: many documents is boilerplate (ubiquitous phrase), not duplication —
#: dropping it bounds the CROSS-document self-join fan-out per key (the
#: same hot-key discipline as the MinHash band posting caps). WITHIN a
#: document, repetition is bounded separately: only the FIRST position of
#: each anchor per document is kept (see ``_exsub_spans``)
EXSUB_DF_MAX = 16

# Shared ExactSubstr span CTE, used verbatim by EVERY registered oracle so
# the queries cannot drift. Anchor keys are the first 16 hex chars of
# md5 (64 bits — collision odds << 1e-6 at any realistic shard size, half
# the shuffle width of full md5); `firstpos` keeps only the first position
# of each anchor per document, so a periodic run contributes at most
# `period` anchor rows per doc instead of one per character (the
# within-document analogue of the df cap — without it the self-join is
# quadratic across diagonals on repetitive text). `b_pred` optionally
# restricts the join's b side (the LATER doc of each pair) — the
# incremental variant passes the new-batch predicate there, so old-old
# pairs never materialize.
def _exsub_spans_duck(b_pred: str = "TRUE") -> str:
    return f"""
    docs AS (
      SELECT doc_id, text FROM documents WHERE len(text) >= {EXSUB_K}
    ),
    pos AS (
      SELECT doc_id, i,
             substr(md5(substr(text, i, {EXSUB_K})), 1, 16) AS h
      FROM (
        SELECT doc_id, text,
               unnest(range(1, greatest(len(text) - {EXSUB_K - 2}, 1))) AS i
        FROM docs
      )
    ),
    firstpos AS (
      SELECT h, doc_id, MIN(i) AS i FROM pos GROUP BY h, doc_id
    ),
    df AS (
      SELECT h FROM (
        SELECT h, COUNT(*) AS nd FROM firstpos GROUP BY h
      ) WHERE nd BETWEEN 2 AND {EXSUB_DF_MAX}
    ),
    fpos AS (SELECT f.doc_id, f.i, f.h FROM firstpos f JOIN df USING (h)),
    matches AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.i AS pa, a.i - b.i AS diag
      FROM fpos a
      JOIN (SELECT * FROM fpos WHERE {b_pred}) b
        ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT a_id, b_id, diag, pa,
             pa - ROW_NUMBER() OVER (
               PARTITION BY a_id, b_id, diag ORDER BY pa) AS grp
      FROM matches
    ),
    spans AS (
      SELECT a_id, b_id, diag, MIN(pa) AS sa, MAX(pa) + {EXSUB_K - 1} AS ea
      FROM runs GROUP BY a_id, b_id, diag, grp
    )
"""


#: the unrestricted spans CTE (b_pred = TRUE), shared by the pair report,
#: the remove-list, and the clean-stats oracles
_EXSUB_SPANS_DUCK = _exsub_spans_duck()


@register(
    "dedup_exact_substring",
    bench=True,
    oracle=f"""
    WITH {_EXSUB_SPANS_DUCK}
    SELECT a_id AS doc_a, b_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(ea - sa + 1) AS BIGINT) AS max_span_chars,
           CAST(SUM(ea - sa + 1) AS BIGINT) AS shared_chars
    FROM spans GROUP BY a_id, b_id
    """,
    doc=f"ExactSubstr dedup (Lee et al. 2022): maximal character spans >= "
        f"{EXSUB_K} chars shared verbatim across document pairs — the "
        "suffix-array method's output re-expressed Spark-first. Every "
        f"{EXSUB_K}-char window is anchored by a 64-bit key (xxhash64 "
        "BIGINT — cheaper than md5 and 8 fixed bytes on every exchange; "
        "collision odds << 1e-6 at any realistic shard size). Two caps "
        "bound the anchor "
        "self-join: WITHIN a document only the FIRST position of each "
        "anchor is kept, so periodic runs ('ababab…', repeated boilerplate "
        "lines) contribute at most `period` anchors per doc instead of one "
        "per character — the quadratic-diagonal hazard on dirty data; "
        f"ACROSS documents, anchors present in more than {EXSUB_DF_MAX} "
        "docs are dropped as boilerplate (the MinHash posting-cap "
        "discipline). Surviving anchors join into per-pair matches; "
        "overlapping matches on the same alignment diagonal (pos_a - "
        "pos_b) merge into MAXIMAL spans with one gaps-and-islands window "
        "— a shared span of non-repeating text anchors at every offset, "
        "so consecutive positions on a diagonal ARE the span (spans over "
        "internally-repeating text dedup to their first occurrence). "
        "Complements the token-shingle family: character-level, tokenizer-"
        "independent, and reports the actual repeated-text extents a "
        "training-data remove-list needs. Shuffles: the within-doc cap is "
        "DOC-LOCAL (an in-partition array_sort, no exchange — measured "
        "26 MB total shuffle write at sf0.1 vs 97 MB uncapped/full-md5); "
        "df-count partials + the post-filter self-join share the h key; "
        "the islands window shuffles on the (a_id, b_id) pair and the "
        "per-pair rollup rides that same exchange; the final rollup is "
        "tiny. No cross join, no all-pairs.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _exsub_spans(spark, sf_dir)
    return (
        spans.groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.max(F.col("ea") - F.col("sa") + 1).cast("long")
            .alias("max_span_chars"),
            F.sum(F.col("ea") - F.col("sa") + 1).cast("long")
            .alias("shared_chars"),
        )
        .select(
            F.col("a_id").alias("doc_a"),
            F.col("b_id").alias("doc_b"),
            "n_spans", "max_span_chars", "shared_chars",
        )
    )


def _exsub_firstpos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr anchor postings ``(doc_id, i, h)`` — every K-char
    window keyed by a 64-bit anchor (``xxhash64`` BIGINT since round
    15; previously 16 hex chars of md5 — same key space, cheaper hash,
    8 fixed bytes per key on every exchange), with the within-document
    posting cap applied DOC-LOCALLY, before any exchange: sort the
    (h, i) window array (struct order = h, then i) and keep only entries
    whose predecessor carries a different h — i.e. the FIRST position of
    each anchor per doc. A periodic run of period p thus contributes
    <= p anchor rows instead of one per character, so the downstream
    self-join cannot go quadratic across diagonals on repetitive text,
    and the cap costs an in-partition array_sort instead of a
    full-corpus (h, doc_id) shuffle (measured at sf0.1: 26 MB total
    shuffle write vs 97 MB for the uncapped full-md5 construction, at
    equal wall time). After the cap each (h, doc_id) is unique, so the
    anchor df count is a plain COUNT(*). Shared by the span builder,
    the pair-budget audit, and the streaming ingest so they cannot
    drift."""
    return _exsub_firstpos_docs(
        load(spark, sf_dir, "documents")["documents"]
    )


def _exsub_firstpos_docs(docs: DataFrame) -> DataFrame:
    """:func:`_exsub_firstpos` over an explicit documents DataFrame —
    the streaming ingest calls this per micro-batch.

    Round 15 (optimization): the anchor key is ``xxhash64`` of the
    K-char window — a BIGINT — instead of the first 16 hex chars of
    md5. Same 64-bit key space and collision odds, but the hash is far
    cheaper to compute than md5 (no hex round-trip), the per-doc
    ``array_sort`` compares longs instead of 16-char strings, and every
    downstream exchange on ``h`` ships 8 fixed bytes instead of a
    string cell. The DuckDB oracles keep their md5 construction: the
    key only ever groups identical substrings, so any collision-free
    64-bit hash yields identical output (and at 64 bits collisions are
    << 1e-6 at any realistic shard size — the same argument the 16-hex
    truncation already relied on)."""
    docs = docs.filter(F.length("text") >= EXSUB_K)
    windows = docs.select(
        "doc_id",
        F.expr(
            f"array_sort(transform(sequence(1, length(text) - {EXSUB_K - 1}),"
            f" i -> struct(xxhash64(substring(text, i, {EXSUB_K})) AS h,"
            f" i AS i)))"
        ).alias("sa"),
    )
    return windows.select(
        "doc_id",
        F.explode(F.expr(
            "filter(sa, (x, idx) -> idx = 0 OR element_at(sa, idx).h <> x.h)"
        )).alias("ph"),
    ).select("doc_id", F.col("ph.i").alias("i"), F.col("ph.h").alias("h"))


def _exsub_pair_budget_env() -> int | None:
    """Read the opt-in per-anchor posting budget from
    ``SPARK_GRAFT_EXSUB_PAIR_MAX`` (unset/empty/0 = uncapped)."""
    import os

    raw = os.environ.get("SPARK_GRAFT_EXSUB_PAIR_MAX", "").strip()
    if not raw:
        return None
    n = int(raw)
    return n if n > 0 else None


def _exsub_spans(
    spark: SparkSession,
    sf_dir: str,
    b_min_doc_id: int | None = None,
    pair_max: int | None = None,
) -> DataFrame:
    """Shared ExactSubstr span builder: maximal shared character spans per
    (doc pair, alignment diagonal) as ``(a_id, b_id, diag, sa, ea)`` with
    1-based inclusive char positions in doc_a (doc_b's interval is the
    diag shift). See :func:`dedup_exact_substring` for the construction.
    ``b_min_doc_id`` restricts the b side (the LATER doc of each pair)
    to the new batch — the incremental mode: old-old pairs are dropped
    doc-locally before the only post-pairing exchange, so they never
    cross the wire (at 100 TB the old index is a persisted bucketed
    table and only the batch side is computed fresh).

    Round 16 (guide §2.3/§2.4/§8): the round-15 shape shuffled the full
    posting table THREE times — a census groupBy(h), a sort-merge join
    back onto the census survivors, and the anchor self-join — plus a
    disk materialization so those consumers shared one explode. At the
    100x probe that read: census 69 s over 149.7M postings (h is
    near-unique, so partial aggregation reduced nothing and the final
    aggregate held ~130M groups), matches chain 285 s, while only 7.8M
    anchors (12% of postings) survived the df filter. Now EVERYTHING
    anchor-side rides ONE exchange on h: a count-over-window supplies
    the df census on the same exchange (WindowExec spills per-group to
    disk, so a boilerplate anchor in a million docs is disk-bounded,
    same as the old census), the survivors collect into a per-anchor
    posting array (<= EXSUB_DF_MAX entries by construction), and the
    C(nd, 2) pairs are generated DOC-LOCALLY by an array-combination
    explode — no self-join, no census join-back, no materialization,
    no broadcast, nothing whose memory grows with corpus size. The
    only other exchange is the islands window on (pair, diag), which
    carries match rows — the output, not the corpus."""
    from pyspark.sql.window import Window

    fp = _exsub_firstpos(spark, sf_dir)
    # the df census rides the pair-generation exchange: count per h as
    # a window (requires clustering by h — the one anchor exchange),
    # then the groupBy(h) below reuses that clustering exchange-free
    w_h = Window.partitionBy("h")
    fp2 = (
        fp.withColumn("nd", F.count(F.lit(1)).over(w_h))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= EXSUB_DF_MAX))
        .drop("nd")
    )
    # optional per-anchor PAIR BUDGET (SPARK_GRAFT_EXSUB_PAIR_MAX): keep
    # only the budget-many lowest-doc_id postings of each surviving
    # anchor, bounding the pair fan-out at C(budget, 2) per anchor
    # instead of C(EXSUB_DF_MAX, 2). Off by default (oracle semantics
    # are uncapped); the dirty-corpus escape hatch for a 100 TB run
    # where candidate-PAIR volume — not anchor volume — is the scale
    # hazard (the 10x salted replica showed 75.6x pairs for 10x data).
    # The lowest-doc_id rule is deterministic ((h, doc_id) is unique
    # after the first-position rollup: the posting array is sorted by
    # doc_id, so the slice keeps exactly the budget-lowest doc_ids),
    # and the truncation is ACCOUNTED, not silent:
    # dedup_exsub_pair_budget_audit reports kept/dropped postings and
    # capped-vs-uncapped pair counts for any budget, and bench runs
    # that engage the knob record it.
    if pair_max is None:
        pair_max = _exsub_pair_budget_env()
    grp = fp2.groupBy("h").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "i"))).alias("ps")
    )
    if pair_max is not None:
        grp = grp.withColumn("ps", F.slice("ps", 1, int(pair_max)))
    # all unordered posting pairs of each anchor, normalized so a_id is
    # the smaller doc (doc_ids are distinct within an anchor): pa is
    # a's position, diag = pa - pb — exactly the rows the round-15
    # self-join produced, generated in place from the <= EXSUB_DF_MAX
    # element array instead
    pair_expr = """
        flatten(transform(ps, (x, ix) ->
          transform(slice(ps, ix + 2, size(ps) - ix - 1), y ->
            named_struct(
              'a_id', least(x.doc_id, y.doc_id),
              'b_id', greatest(x.doc_id, y.doc_id),
              'pa',   CASE WHEN x.doc_id < y.doc_id THEN x.i ELSE y.i END,
              'diag', CASE WHEN x.doc_id < y.doc_id THEN x.i - y.i
                           ELSE y.i - x.i END))))
    """
    matches = grp.select(F.explode(F.expr(pair_expr)).alias("m")).select(
        "m.a_id", "m.b_id", "m.pa", "m.diag"
    )
    if b_min_doc_id is not None:
        matches = matches.filter(F.col("b_id") >= b_min_doc_id)
    return _exsub_run_groups(matches)


def _exsub_run_groups(matches):
    """Match rows ``(a_id, b_id, pa, diag)`` → maximal spans
    ``(a_id, b_id, diag, sa, ea)``; shared by :func:`_exsub_spans` and
    :func:`stream_incremental_exsub_ingest`, which must stay in lockstep.

    The islands window is keyed by the PAIR, not (pair, diag): every
    consumer aggregates per pair (the pair report, the incremental
    per-pair pre-rollup) or per doc, so partitioning the run grouping by
    (a_id, b_id) lets those pair-grain aggregates ride this exchange
    instead of re-shuffling the match rows a second time. Ordering by
    (diag, pa), a run boundary is a diag change or a pa gap (pa values
    are distinct within a diag: the anchor at a given position is unique
    after the first-position cap, so the lag comparison has no tie
    ambiguity); the cumulative flag sum numbers the runs."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("a_id", "b_id").orderBy("diag", "pa")
    prev_diag = F.lag("diag").over(w)
    prev_pa = F.lag("pa").over(w)
    new_run = (
        prev_diag.isNull()
        | (F.col("diag") != prev_diag)
        | (F.col("pa") != prev_pa + 1)
    )
    runs = matches.withColumn(
        "nr", F.when(new_run, F.lit(1)).otherwise(F.lit(0))
    ).withColumn(
        "grp",
        F.sum("nr").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return runs.groupBy("a_id", "b_id", "diag", "grp").agg(
        F.min("pa").alias("sa"),
        (F.max("pa") + F.lit(EXSUB_K - 1)).alias("ea"),
    ).select("a_id", "b_id", "diag", "sa", "ea")


@register(
    "dedup_exact_substring_removelist",
    bench=True,
    oracle=f"""
    WITH {_EXSUB_SPANS_DUCK},
    ranges AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT a_id AS doc_id, sa AS s, ea AS e FROM spans
        UNION ALL
        SELECT b_id, sa - diag, ea - diag FROM spans
      )
    ),
    flagged AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM ranges
    ),
    grps AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS g
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, g, MIN(s) AS ms, MAX(e) AS me FROM grps
      GROUP BY doc_id, g
    )
    SELECT m.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ranges,
           CAST(SUM(me - ms + 1) AS BIGINT) AS chars_flagged,
           round(CAST(SUM(me - ms + 1) AS DOUBLE) / MAX(d.n_chars), 6)
             AS frac_flagged
    FROM merged m JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY m.doc_id
    """,
    doc="ExactSubstr REMOVE-LIST: the per-document character ranges the "
        "pair report flags, unioned across every partner and merged into "
        "disjoint intervals — the consumable Lee et al. 2022 actually "
        "apply (cut the repeated extents, keep the rest of the doc). "
        "Each maximal pair-span contributes its doc_a interval and the "
        "diagonal-shifted doc_b interval; per-doc interval union is one "
        "running-max window + gaps-and-islands grouping (the oracle's "
        "DISTINCT over interval rows is omitted Spark-side: the "
        "running-max merge is duplicate-insensitive, see "
        "_exsub_merged_ranges). "
        "Output: merged range count, chars flagged, fraction of the doc "
        "(1.0 = whole doc duplicated somewhere). Shuffle shape: the span "
        "builder's anchor join plus ONE doc_id exchange shared by the "
        "union window and the final rollup — key-balanced at corpus "
        "scale.",
)
def dedup_exact_substring_removelist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    merged = _exsub_merged_ranges(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "n_chars"
    )
    return (
        merged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ranges"),
            F.sum(F.col("me") - F.col("ms") + 1).cast("long")
            .alias("chars_flagged"),
        )
        .join(docs, "doc_id")
        .select(
            "doc_id", "n_ranges", "chars_flagged",
            F.round(
                F.col("chars_flagged").cast("double") / F.col("n_chars"), 6
            ).alias("frac_flagged"),
        )
    )


def _exsub_merged_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MERGED remove-intervals ``(doc_id, g, ms, me)`` —
    the interval-union core shared by the removelist and clean-stats
    rollups (factored out so clean_stats does not execute removelist's
    docs join / frac projection only to discard those columns)."""
    from pyspark.sql.window import Window

    # each span contributes TWO intervals (doc_a's and doc_b's shifted
    # copy). A 2-branch union of selects over the same span table plans
    # as a diamond — Spark re-executes the whole pair join + islands
    # window once per branch (no exchange reuse fires). explode(array())
    # emits both intervals from ONE pass over one span row instead: a
    # single linear pipeline with half the pair-join/window work at any
    # scale (alternating A/B at sf0.1: median 3.47 -> 2.89 s; see
    # OPTIMIZATION_r15.md — a plain cross-session comparison is too
    # noisy to rank these variants).
    spans = _exsub_spans(spark, sf_dir)
    ranges = (
        spans.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a_id").alias("doc_id"),
                        F.col("sa").alias("s"),
                        F.col("ea").alias("e"),
                    ),
                    F.struct(
                        F.col("b_id").alias("doc_id"),
                        (F.col("sa") - F.col("diag")).alias("s"),
                        (F.col("ea") - F.col("diag")).alias("e"),
                    ),
                )
            ).alias("r")
        )
        .select("r.doc_id", "r.s", "r.e")
        # round 16 (guide §2.4/§5): ONE doc_id exchange feeds the
        # interval-union windows directly — no dropDuplicates. The r15
        # shape paid a (doc_id, s, e) exchange for a distinct and then a
        # second doc_id exchange for the windows; a first r16 cut kept
        # the distinct riding this one exchange, but that put the
        # distinct's final hash aggregate, the window sort, and the
        # rollup's partial aggregate in ONE stage — three concurrent
        # memory consumers, and a 100x child run OOM'd the sorter
        # (UNABLE_TO_ACQUIRE_MEMORY in growPointerArrayIfNecessary: the
        # hash table held the pool). The distinct is PROVABLY redundant
        # here: the merge below is a running MAX(e) over a ROWS frame
        # ordered by (s, e) — a duplicate interval row always satisfies
        # s <= prev_max (its twin's e >= s precedes it), so it can never
        # open a group, never increments g, and never moves a group's
        # MIN(s)/MAX(e); both consumers then collapse on (doc_id, g).
        # Dropping it leaves the sorter as the stage's one large
        # consumer (spills gracefully), with sort volume <= the islands
        # window's match-row sort that already runs clean at 100x.
        # The DuckDB oracles keep their DISTINCT — outputs are equal by
        # the argument above, pinned by the oracle gate at two SFs.
        .repartition("doc_id")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grps = ranges.withColumn(
        "prev_max", F.max("e").over(w_prev)
    ).withColumn(
        "g",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
                1,
            ).otherwise(0)
        ).over(w_cum),
    )
    return grps.groupBy("doc_id", "g").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )


@register(
    "dedup_exact_substring_clean_stats",
    oracle=f"""
    WITH {_EXSUB_SPANS_DUCK},
    ranges AS (
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT a_id AS doc_id, sa AS s, ea AS e FROM spans
        UNION ALL
        SELECT b_id, sa - diag, ea - diag FROM spans
      )
    ),
    flagged AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM ranges
    ),
    grps AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS g
      FROM flagged
    ),
    per_doc AS (
      SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT) AS cut
      FROM (SELECT doc_id, g, MIN(s) AS ms, MAX(e) AS me FROM grps
            GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(p.doc_id) AS BIGINT) AS docs_flagged,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
           CAST(COALESCE(SUM(p.cut), 0) AS BIGINT) AS chars_cut,
           CAST(SUM(d.n_chars) - COALESCE(SUM(p.cut), 0) AS BIGINT)
             AS chars_retained,
           round(CAST(SUM(d.n_chars) - COALESCE(SUM(p.cut), 0) AS DOUBLE)
                 / greatest(SUM(d.n_chars), 1), 6) AS retention
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    GROUP BY d.source
    """,
    doc="Corpus impact of APPLYING the ExactSubstr remove-list: per "
        "source, how many documents carry flagged ranges, how many "
        "characters the merged ranges cut, and the retention ratio — "
        "the number a data curator reads before committing the cut at "
        "100 TB (which sources are duplication-heavy, how much text "
        "survives). Completes the ExactSubstr family as a pipeline: "
        "pair spans → per-doc remove ranges → corpus-level decision "
        "summary. Same span builder and interval-union shuffles as the "
        "removelist, plus one broadcast-scale source rollup; the corpus "
        "side is a single documents pass left-joining the per-doc cuts.",
    bench=True,
)
def dedup_exact_substring_clean_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # per-doc cut from the shared interval-union core directly — the
    # removelist's docs join and frac projection would be computed only
    # to be discarded here (Catalyst prunes the columns but cannot prune
    # the inner join itself)
    per_doc = _exsub_merged_ranges(spark, sf_dir).groupBy("doc_id").agg(
        F.sum(F.col("me") - F.col("ms") + 1).cast("long").alias("cut")
    )
    docs = load(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "source", "n_chars"
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("cut").cast("bigint").alias("docs_flagged"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            F.expr("CAST(COALESCE(SUM(cut), 0) AS BIGINT)").alias(
                "chars_cut"
            ),
            F.expr(
                "CAST(SUM(n_chars) - COALESCE(SUM(cut), 0) AS BIGINT)"
            ).alias("chars_retained"),
            F.expr(
                "round(CAST(SUM(n_chars) - COALESCE(SUM(cut), 0) AS DOUBLE)"
                " / greatest(SUM(n_chars), 1), 6)"
            ).alias("retention"),
        )
    )


#: shared oracle for the batch-incremental operator AND the streaming
#: ingest (identical result contract; the hash gate proves the streaming
#: decomposition equals the one-shot batch operator)
_EXSUB_INCR_ORACLE = f"""
    WITH {{spans}}
    SELECT b_id AS doc_id,
           CAST(COUNT(DISTINCT CASE WHEN a_id < {INCR_SPLIT} THEN a_id END)
                AS BIGINT) AS n_partners_existing,
           CAST(COUNT(DISTINCT CASE WHEN a_id >= {INCR_SPLIT} THEN a_id END)
                AS BIGINT) AS n_partners_batch,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(ea - sa + 1) AS BIGINT) AS max_span_chars,
           CAST(SUM(CASE WHEN a_id < {INCR_SPLIT} THEN ea - sa + 1
                         ELSE 0 END) AS BIGINT) AS shared_chars_existing,
           CAST(SUM(CASE WHEN a_id >= {INCR_SPLIT} THEN ea - sa + 1
                         ELSE 0 END) AS BIGINT) AS shared_chars_batch
    FROM spans GROUP BY b_id
    """.format(spans=_exsub_spans_duck(f"doc_id >= {INCR_SPLIT}"))


@register(
    "dedup_exact_substring_incremental",
    oracle=_EXSUB_INCR_ORACLE,
    doc=f"INCREMENTAL ExactSubstr — the daily-crawl operating mode "
        "(same split convention as dedup_incremental / "
        "dedup_incremental_minhash: doc_id < "
        f"{INCR_SPLIT} plays the existing corpus, the rest the new "
        "batch): every NEW document is scored for verbatim character "
        "spans against the full corpus, but the anchor self-join's b "
        "side is restricted to BATCH anchors before the join, so "
        "old-old pairs never materialize — the join output is bounded "
        "by batch-anchors x df-cap instead of corpus². Per new doc: "
        "partner counts and shared chars split by partner class "
        "(existing corpus vs within-batch — the two different actions: "
        "cut against the corpus, dedup within the crawl). df statistics "
        "come from the UPDATED full index, exactly what a persisted "
        "anchor table gives after appending the batch. At 100 TB the "
        "old index is a bucketed table keyed on the 64-bit anchor; only "
        "the batch side is computed fresh per crawl.",
    bench=True,
)
def dedup_exact_substring_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    spans = _exsub_spans(spark, sf_dir, b_min_doc_id=INCR_SPLIT)
    return _exsub_incremental_rollup(spans)


def _exsub_incremental_rollup(spans: DataFrame) -> DataFrame:
    """Per-new-doc span rollup shared by the batch-incremental operator
    and the streaming ingest (same oracle, so the two must agree).

    Round 16 (guide §2.3): aggregate to PAIR grain first — the span
    builder's islands window already clusters spans by (a_id, b_id), so
    the pair rollup is exchange-free — and only then shuffle to b_id.
    The b_id exchange ships one row per partner pair instead of one per
    span, and the former countDistinct(a_id) (an Expand + two-level
    aggregate) becomes a plain conditional count: a_id is unique per
    (b_id, a_id) pair row by construction."""
    length = F.col("ea") - F.col("sa") + 1
    old_pair = F.col("a_id") < INCR_SPLIT
    pair = spans.groupBy("a_id", "b_id").agg(
        F.count(F.lit(1)).alias("p_spans"),
        F.max(length).alias("p_max"),
        F.sum(length).alias("p_chars"),
    )
    return (
        pair.groupBy("b_id")
        .agg(
            F.count(F.when(old_pair, F.lit(1)))
            .cast("bigint").alias("n_partners_existing"),
            F.count(F.when(~old_pair, F.lit(1)))
            .cast("bigint").alias("n_partners_batch"),
            F.sum("p_spans").cast("bigint").alias("n_spans"),
            F.max("p_max").cast("bigint").alias("max_span_chars"),
            F.sum(F.when(old_pair, F.col("p_chars")).otherwise(F.lit(0)))
            .cast("bigint").alias("shared_chars_existing"),
            F.sum(F.when(~old_pair, F.col("p_chars")).otherwise(F.lit(0)))
            .cast("bigint").alias("shared_chars_batch"),
        )
        .select(
            F.col("b_id").alias("doc_id"),
            "n_partners_existing", "n_partners_batch", "n_spans",
            "max_span_chars", "shared_chars_existing", "shared_chars_batch",
        )
    )


#: the illustrative budget the AUDIT query reports at — 2 binds even at the
#: small driver SF (anchor df tops out at 3 there), so the truncation
#: accounting is exercised with real nonzero numbers. The production knob
#: (``SPARK_GRAFT_EXSUB_PAIR_MAX``) takes any value; the audit's algebra is
#: identical for all of them.
EXSUB_PAIR_BUDGET_AUDIT = 2


@register(
    "dedup_exsub_pair_budget_audit",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE len(text) >= {EXSUB_K}
    ),
    pos AS (
      SELECT doc_id, i,
             substr(md5(substr(text, i, {EXSUB_K})), 1, 16) AS h
      FROM (
        SELECT doc_id, text,
               unnest(range(1, greatest(len(text) - {EXSUB_K - 2}, 1))) AS i
        FROM docs
      )
    ),
    firstpos AS (
      SELECT h, doc_id, MIN(i) AS i FROM pos GROUP BY h, doc_id
    ),
    eligible AS (
      SELECT h, nd FROM (
        SELECT h, COUNT(*) AS nd FROM firstpos GROUP BY h
      ) WHERE nd BETWEEN 2 AND {EXSUB_DF_MAX}
    )
    SELECT CAST({EXSUB_PAIR_BUDGET_AUDIT} AS BIGINT) AS budget,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(SUM(CASE WHEN nd > {EXSUB_PAIR_BUDGET_AUDIT} THEN 1
                         ELSE 0 END) AS BIGINT) AS n_anchors_truncated,
           CAST(SUM(LEAST(nd, {EXSUB_PAIR_BUDGET_AUDIT})) AS BIGINT)
             AS postings_kept,
           CAST(SUM(nd - LEAST(nd, {EXSUB_PAIR_BUDGET_AUDIT})) AS BIGINT)
             AS postings_dropped,
           CAST(SUM(nd * (nd - 1) // 2) AS BIGINT) AS pairs_uncapped,
           CAST(SUM(LEAST(nd, {EXSUB_PAIR_BUDGET_AUDIT})
                    * (LEAST(nd, {EXSUB_PAIR_BUDGET_AUDIT}) - 1) // 2)
                AS BIGINT) AS pairs_capped
    FROM eligible
    """,
    doc="Truncation ACCOUNTING for the ExactSubstr per-anchor pair budget "
        "(SPARK_GRAFT_EXSUB_PAIR_MAX): for every df-eligible anchor, how "
        "many postings a given budget keeps/drops and the capped-vs-"
        "uncapped candidate-pair counts (sum of C(nd, 2) vs "
        "C(min(nd, budget), 2)) — the delta a dirty-corpus run gives up "
        "when it engages the budget, reported rather than silent. The "
        "anchor stage is the SAME _exsub_firstpos the span builder uses "
        "(and the same doc-local first-position cap), so the audit's "
        "numbers are exactly the join the budget would bound. One "
        "anchor-grain aggregate, no self-join: auditing the cap never "
        "costs the blowup the cap prevents.",
)
def dedup_exsub_pair_budget_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    b = EXSUB_PAIR_BUDGET_AUDIT
    counts = (
        _exsub_firstpos(spark, sf_dir)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= EXSUB_DF_MAX))
    )
    kept = F.least(F.col("nd"), F.lit(b))
    return counts.agg(
        F.lit(b).cast("bigint").alias("budget"),
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.sum((F.col("nd") > b).cast("int")).cast("bigint")
        .alias("n_anchors_truncated"),
        F.sum(kept).cast("bigint").alias("postings_kept"),
        F.sum(F.col("nd") - kept).cast("bigint").alias("postings_dropped"),
        F.sum(F.col("nd") * (F.col("nd") - 1) / 2).cast("bigint")
        .alias("pairs_uncapped"),
        F.sum(kept * (kept - 1) / 2).cast("bigint").alias("pairs_capped"),
    )


@register(
    "stream_incremental_exsub_ingest",
    oracle=_EXSUB_INCR_ORACLE,
    doc="Streaming incremental EXACT-SUBSTRING ingest — the exact-span "
        "analogue of stream_incremental_minhash_ingest, closing the "
        "streaming-maintenance matrix (LSH/BM25/PQ/IVF/minhash + now "
        "ExactSubstr): the existing corpus's anchor index (doc_id, pos, "
        "64-bit anchor) is PERSISTED once; the daily batch arrives as a "
        "Structured Streaming file source over several micro-batches "
        "(maxFilesPerTrigger=1, availableNow + checkpoint). Per "
        "micro-batch: (1) maintenance — append the batch docs' "
        "doc-locally-capped anchors to the one persistent index (old "
        "part files byte-stable); (2) probe — join the micro-batch "
        "anchors against the index AS OF this append, normalize to "
        "(min, max) doc roles, early-drop anchors already past the df "
        "cap (df only grows, so over-cap now implies over-cap finally — "
        "a parity-safe monotone prefilter), and stream the raw match "
        "rows to an artifact. Every pair lands exactly once — in the "
        "micro-batch of its later-arriving side — and old-old pairs "
        "never materialize because one side is always batch. At batch "
        "close the FINAL df-eligibility filter (nd in [2, df-cap] over "
        "the updated full index — exactly what a persisted anchor table "
        "gives after appending the whole batch) is applied to the match "
        "artifact, spans merge per (pair, diagonal) — (a, b) match "
        "groups are micro-batch-local, so no span straddles artifacts — "
        "and the per-new-doc rollup reuses the batch operator's code "
        "path. Daily work scales with BATCH anchors (matches artifact + "
        "one index-grain count), not corpus size; same oracle as "
        "dedup_exact_substring_incremental, so the hash gate proves the "
        "streaming decomposition equals the one-shot batch operator.",
)
def stream_incremental_exsub_ingest(
    spark: SparkSession,
    sf_dir: str,
    *,
    artifact_base_dir: "str | None" = None,
) -> DataFrame:
    import glob
    import os
    import tempfile

    from ..streaming import await_drained

    docs = load(spark, sf_dir, "documents")["documents"]

    if artifact_base_dir is not None:
        index_dir = os.path.join(artifact_base_dir, "index")
        matches_dir = os.path.join(artifact_base_dir, "matches")
        in_dir = os.path.join(artifact_base_dir, "in")
        ckpt_dir = os.path.join(artifact_base_dir, "ckpt")
        for d in (index_dir, matches_dir, in_dir):
            os.makedirs(d, exist_ok=True)
    else:
        index_dir = tempfile.mkdtemp(prefix="stream_exsub_index_")
        matches_dir = tempfile.mkdtemp(prefix="stream_exsub_matches_")
        in_dir = tempfile.mkdtemp(prefix="stream_exsub_in_")
        ckpt_dir = tempfile.mkdtemp(prefix="stream_exsub_ckpt_")

    # the persistent anchor-index artifact (existing corpus only)
    existing = docs.filter(F.col("doc_id") < INCR_SPLIT)
    _exsub_firstpos_docs(existing).write.mode("overwrite").parquet(index_dir)
    snapshot_files = sorted(glob.glob(os.path.join(index_dir, "*.parquet")))

    # seed the match artifact so the post-drain read never races an
    # all-novel run (no micro-batch may ever append)
    match_schema_seed = (
        spark.range(0)
        .select(
            F.col("id").alias("a_id"), F.col("id").alias("b_id"),
            F.col("id").cast("int").alias("pa"),
            F.col("id").cast("int").alias("diag"),
            F.lit(0).cast("bigint").alias("h"),
        )
    )
    match_schema_seed.write.mode("overwrite").parquet(matches_dir)

    docs.filter(F.col("doc_id") >= INCR_SPLIT).repartition(4).write.mode(
        "overwrite"
    ).parquet(in_dir)
    raw_schema = docs.schema

    def process(batch_df, _batch_id) -> None:
        mb = _exsub_firstpos_docs(batch_df).localCheckpoint(eager=True)
        # (1) maintenance: append this micro-batch's anchors to the ONE
        # persistent index (earlier part files stay byte-stable)
        mb.write.mode("append").parquet(index_dir)
        # (2) probe vs the index AS OF this append (snapshot + batch so
        # far + this micro-batch): sequential micro-batches mean every
        # pair is seen exactly once, when its later side arrives
        idx = spark.read.parquet(index_dir)
        # monotone df prefilter: anchors ALREADY past the cap can only
        # stay past it, so their matches would be dropped at close anyway
        idx_ok = idx.join(
            idx.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") <= EXSUB_DF_MAX).select("h"),
            "h",
        )
        mb_side = mb.select(
            F.col("doc_id").alias("m_id"), F.col("i").alias("m_i"), "h"
        )
        other = idx_ok.select(
            F.col("doc_id").alias("o_id"), F.col("i").alias("o_i"), "h"
        )
        a_is_mb = F.col("m_id") < F.col("o_id")
        matches = (
            mb_side.join(other, "h")
            .filter(F.col("m_id") != F.col("o_id"))
            .select(
                F.when(a_is_mb, F.col("m_id")).otherwise(F.col("o_id"))
                .alias("a_id"),
                F.when(a_is_mb, F.col("o_id")).otherwise(F.col("m_id"))
                .alias("b_id"),
                F.when(a_is_mb, F.col("m_i")).otherwise(F.col("o_i"))
                .cast("int").alias("pa"),
                (F.when(a_is_mb, F.col("m_i")).otherwise(F.col("o_i"))
                 - F.when(a_is_mb, F.col("o_i")).otherwise(F.col("m_i")))
                .cast("int").alias("diag"),
                "h",
            )
            # a same-micro-batch pair joins in both directions; the
            # role-normalized rows are identical, so distinct collapses
            # them (cross-micro-batch pairs appear once by construction)
            .distinct()
        )
        matches.write.mode("append").parquet(matches_dir)

    query = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(query)

    # batch close: FINAL df-eligibility over the fully-updated index
    # (nd >= 2 is implied for every match; the cap must be re-checked
    # because an anchor can cross it in a LATER micro-batch than the one
    # that emitted its matches), then merge maximal spans and roll up —
    # all from artifacts, so the close-time work scales with batch
    # match volume, not corpus size
    final_ok = (
        spark.read.parquet(index_dir)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= EXSUB_DF_MAX))
        .select("h")
    )
    kept = spark.read.parquet(matches_dir).join(final_ok, "h").drop("h")
    return _exsub_incremental_rollup(_exsub_run_groups(kept))
