"""Deduplication operators for training-data pipelines, 100 TB-first.

Every strategy here is a *blocked pair generation* followed by exact
verification — the only shape that scales: never all-pairs, always
candidates-from-shared-key. Hot paths are built-in Column functions; the
one hash that must be engine-portable (fingerprints) uses md5, the rest
use xxhash64 (JVM-side, 64-bit, seeded).

Strategies:
  exact_duplicates     — full-content (or prefix-key) hash groupBy
  ngram_jaccard_pairs  — shingle-join candidates + exact Jaccard verify
  minhash_lsh_pairs    — MinHash signatures, banded LSH join, Jaccard verify
  simhash_pairs        — 64-bit SimHash, banded hamming candidates
  embedding_near_dup   — blocked cosine similarity over embedding vectors
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from corkscrew_spark.operators.text import fingerprint, prefix_key, tokens
from corkscrew_spark.session import ckpt_observe as _ckpt_observe
from corkscrew_spark.session import spread as _spread


# ---------------------------------------------------------------------------
# Exact
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, text_col: str,
                     key: Column | None = None) -> DataFrame:
    """Groups of documents with identical content key.

    Returns (dup_key, doc_count, keep_id) for every key held by >1 doc —
    ``keep_id`` is the canonical representative (min id). Single shuffle
    with map-side partial aggregation; at 100 TB this is the cheapest
    dedup and always runs first to shrink the corpus for the fuzzy passes.
    """
    k = key if key is not None else fingerprint(text_col)
    return (
        df.select(F.col(id_col), k.alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.count("*").alias("doc_count"), F.min(id_col).alias("keep_id"))
        .filter(F.col("doc_count") > 1)
    )


def prefix_duplicates(df: DataFrame, id_col: str, text_col: str, n_tokens: int = 5) -> DataFrame:
    """Exact dedup on the first-N-token prefix (cheap boilerplate catcher)."""
    return exact_duplicates(df, id_col, text_col, key=prefix_key(text_col, n_tokens))


# ---------------------------------------------------------------------------
# Shingles + Jaccard
# ---------------------------------------------------------------------------



def _grams_sql(n: int, distinct: bool = True) -> str:
    """The word-n-gram array expression over a bound token column ``t``.

    The token array must already be materialized as a column: referencing
    the raw split expression inside the lambda re-evaluates the split per
    sequence element (no CSE across lambda scopes), measured ~5× slower.
    """
    terms = ", ".join(f"t[i+{j}]" for j in range(n))
    body = f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', {terms}))"
    if distinct:
        body = f"array_distinct({body})"
    return f"CASE WHEN size(t) >= {n} THEN {body} ELSE array() END"


def shingle_arrays(df: DataFrame, id_col: str, text_col: str,
                   n: int = 3) -> DataFrame:
    """Per-document DISTINCT shingle array: one row per doc, ``arr`` the
    doc's distinct word n-grams. The dedup is per document, so it runs as
    ``array_distinct`` in the projection — map-only, where a row-level
    ``DISTINCT`` over the exploded relation would shuffle every (doc,
    shingle) row of the corpus (guide §2.4: a removable exchange).
    """
    with_toks = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("t"))
    return with_toks.select("doc", F.expr(_grams_sql(n)).alias("arr"))


def shingle_set(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle).

    Distinctness is established per document (map-side ``array_distinct``
    inside the generator expression), so the explode needs no row-level
    DISTINCT — the whole relation is shuffle-free. The generator takes
    the gram EXPRESSION, not a named column: exploding an attribute makes
    the optimizer push an inferred ``size(arr) > 0`` filter below the
    projection, where the substituted expression re-tokenizes every
    document several times over (measured ~20×).
    """
    with_toks = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("t"))
    return with_toks.select(
        "doc", F.explode(F.expr(_grams_sql(n))).alias("shingle"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                        threshold: float = 0.8, max_shingle_df: int = 100) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard, shingle-join blocked.

    Candidates come from sharing at least one shingle whose document
    frequency is ≤ ``max_shingle_df``: ultra-common shingles generate
    quadratic candidate pairs while contributing nothing to near-dup
    recall (true near-dups share many *rare* shingles), so dropping them
    bounds the blow-up — the standard prefix/df-filter from set-similarity
    joins. Jaccard itself is computed over the FULL shingle sets, so the
    score is exact; only candidate *generation* is df-capped.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    """
    # The checkpointed relation is the map-side-distinct explode: the old
    # row-level DISTINCT paid a full corpus-shingle exchange INSIDE the
    # checkpoint build for a per-document dedup that array_distinct does
    # in the projection (guide §2.4). Downstream keeps the groupBy-derived
    # stats/sets over the materialized rows: deriving them map-side from a
    # per-doc array checkpoint was A/B'd and lost ~1.3 s/query — the
    # accurately-sized tiny array table tips every downstream join to a
    # driver-built broadcast, costlier than the partial-agg shuffles it
    # replaces (and the collect_list shuffle moves the same bytes the
    # array join would).
    sh = shingle_set(df, id_col, text_col, n).localCheckpoint(eager=True)
    with_df = sh.join(
        sh.groupBy("shingle").agg(F.count("*").alias("df")), "shingle"
    )
    stats = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    # PPJoin-style prefix filter: rank each doc's rare shingles by global
    # (df, shingle) and block only on the first n-⌈t·n⌉+1 — any partner
    # with Jaccard ≥ t shares ≥ ⌈t·n⌉ shingles (the partner's set must be
    # ≥ t·n large, so |A∩B| ≥ t/(1+t)·(n+t·n) = t·n), hence MUST hit the
    # prefix under a common total order. Recall is exact; the self-join
    # shrinks quadratically (each doc contributes its few rarest shingles
    # instead of its whole set). The 1e-9 slack keeps ceil() from
    # overshooting when t·n is a real-valued integer (0.8 is not exact in
    # binary; overshoot would shorten the prefix and silently drop pairs).
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy("df", "shingle")
    prefix_len = F.col("n_sh") - F.ceil(threshold * F.col("n_sh") - 1e-9) + 1
    prefix = (
        with_df.filter(F.col("df") <= max_shingle_df)
        .withColumn("rk", F.row_number().over(w))
        .join(stats.select("doc", "n_sh"), "doc")
        .filter(F.col("rk") <= prefix_len)
        .select("doc", "shingle")
    )
    a = prefix.select(F.col("doc").alias("doc_a"), "shingle")
    b = prefix.select(F.col("doc").alias("doc_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Size-ratio prune before the verify join: jac(A,B) ≥ t forces
    # t·|B| ≤ |A| (and symmetrically), so wildly different-sized pairs
    # can't reach the threshold.
    sa = stats.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = stats.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    survivors = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            (F.col("n_a") >= threshold * F.col("n_b"))
            & (F.col("n_b") >= threshold * F.col("n_a"))
        )
    )
    # Exact verify on full sets: join the (narrow) per-doc shingle arrays
    # to the surviving pairs — no re-shuffle of the shingle relation.
    sets = sh.groupBy("doc").agg(F.collect_list("shingle").alias("arr"))
    inter = (
        survivors.join(sets.select(F.col("doc").alias("doc_a"),
                                   F.col("arr").alias("arr_a")), "doc_a")
        .join(sets.select(F.col("doc").alias("doc_b"),
                          F.col("arr").alias("arr_b")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_sig_sql(n: int, num_hashes: int) -> str:
    """SQL for the full MinHash signature array over a bound token column
    ``t`` — see ``_minhash_sig_arrays`` for the shape rationale."""
    return (
        f"aggregate({_grams_sql(n, distinct=False)}, "
        f"array_repeat(9223372036854775807L, {num_hashes}), "
        "(acc, x) -> zip_with(acc, "
        f"transform(sequence(0, {num_hashes - 1}), i -> xxhash64(x, i)), "
        "(p, q) -> least(p, q)))"
    )


def _minhash_sig_arrays(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, num_hashes: int = 32) -> DataFrame:
    """(doc, mh): the full MinHash signature as one array<long> per doc,
    computed entirely map-side — ``mh[i] = min over the doc's shingles of
    xxhash64(shingle, i)`` as ONE least-fold pass over the gram array
    instead of an explode + groupBy((doc, pos)) shuffle (guide §2.3/§2.4:
    the min is per document, no cross-row state).

    Shape notes, both measured: the fold binds the gram array ONCE as the
    aggregate input (an outer ``transform(seq(H), i -> array_min(...))``
    would make the optimizer inline — and re-evaluate — the shingle
    expression once per hash, ~30×), and the empty-doc filter tests the
    CHEAP ``size(tokens) >= n`` predicate (a ``size(arr) > 0`` filter
    gets pushed below the projection with the whole shingle pipeline
    substituted into it). Duplicate shingles don't move a min, so the
    fold skips ``array_distinct`` outright. Docs with fewer than ``n``
    tokens are dropped, matching the exploded formulation where they
    contribute no rows.
    """
    with_toks = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("t"))
    return (
        with_toks.filter(F.size("t") >= n)
        .select("doc", F.expr(_minhash_sig_sql(n, num_hashes)).alias("mh"))
    )


def band_signatures(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                    num_hashes: int = 32, bands: int = 8) -> DataFrame:
    """(doc, band, band_key): each doc's MinHash signature folded into
    ``bands`` 64-bit band keys (band membership = pos % bands, order
    inside the band fixed by sorting on pos). Shared by the batch pair
    join and the streaming index path — both sides banding identically is
    what makes a stream-vs-corpus band join meaningful."""
    # Band keys fold map-side from the signature array: band b's slice is
    # positions b, b+bands, ... in ascending pos order — exactly what the
    # old groupBy((doc, band)) + sort_array(collect_list(struct)) shuffle
    # produced, byte-identical through the same to_json encoding, with
    # zero exchanges (the struct field names and types are pinned so the
    # JSON text, hence xxhash64, cannot drift). The signature array is
    # LET-BOUND through a single-element transform so it evaluates once
    # per doc — referenced bare inside the per-band lambda, the optimizer
    # would inline (and re-evaluate) the whole MinHash fold per band.
    band_key = F.expr(
        f"element_at(transform(array({_minhash_sig_sql(n, num_hashes)}), "
        f"mh -> transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(to_json(transform(sequence(b, {num_hashes - 1}, {bands}), "
        "p -> named_struct('pos', p, 'minhash', element_at(mh, p + 1))))))), 1)"
    )
    with_toks = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("t"))
    return (
        with_toks.filter(F.size("t") >= n)
        .select("doc", F.posexplode(band_key).alias("band", "band_key"))
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.8) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH + exact Jaccard verification.

    ``bands`` bands of r = num_hashes/bands rows: a pair becomes a
    candidate when any band's signature slice matches exactly (probability
    1-(1-j^r)^b — with 8 bands × 4 rows, j=0.8 is caught w.p. ~0.996).
    Candidates are then verified with exact Jaccard so the output has no
    false positives — LSH only bounds *recall*, never precision.
    """
    band_sig = band_signatures(df, id_col, text_col, n, num_hashes, bands)
    a = band_sig.select(F.col("doc").alias("doc_a"), "band", "band_key")
    b = band_sig.select(F.col("doc").alias("doc_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Per-doc shingle arrays come straight from the map-side projection —
    # the old explode + collect_list round-trip re-aggregated what the
    # projection already had as an array (guide §2.4).
    sets = shingle_arrays(df, id_col, text_col, n)
    inter = (
        cand.join(sets.select(F.col("doc").alias("doc_a"), F.col("arr").alias("arr_a")),
                  "doc_a")
        .join(sets.select(F.col("doc").alias("doc_b"), F.col("arr").alias("arr_b")),
              "doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("inter"),
            F.size("arr_a").alias("n_a"),
            F.size("arr_b").alias("n_b"),
        )
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 63) -> DataFrame:
    """63-bit SimHash per document (bit 63 unused to stay in signed LONG).

    Token-frequency-weighted: bit j of the fingerprint is the sign of
    Σ_tokens count(token) * (±1 from bit j of xxhash64(token)). Computed
    as one exploded token-count relation and an elementwise array-sum
    aggregation — all JVM expressions.

    Returns (doc, simhash LONG).
    """
    # Fully map-side: Σ_tokens count(token)·(±1) ≡ Σ over token INSTANCES
    # of (±1) — identical integer sums, so the per-(doc, token) count
    # relation (one shuffle) and the collect_list re-aggregation (a
    # second, non-partial shuffle) both fold into one aggregate lambda
    # over the token array (guide §2.4: zero exchanges end to end).
    summed = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("t")
    ).filter(F.col("t").isNotNull()).select(
        "doc",
        F.expr(
            f"aggregate(transform(t, tok -> xxhash64(tok)), "
            f"array_repeat(0L, {bits}), "
            "(acc, h) -> zip_with(acc, "
            f"transform(sequence(0, {bits - 1}), "
            "j -> CASE WHEN (shiftright(h, j) & 1L) = 1L "
            "THEN 1L ELSE -1L END), (p, q) -> p + q))"
        ).alias("sums"),
    )
    # shiftleft with a *column* shift amount is SQL-only (the Python
    # wrapper takes an int), so the bit-assembly runs as one SQL lambda.
    return summed.select(
        "doc",
        F.expr(
            f"aggregate(zip_with(sums, sequence(0, {bits - 1}), "
            "(s, j) -> CASE WHEN s > 0 THEN shiftleft(1L, CAST(j AS INT)) ELSE 0L END), "
            "0L, (acc, x) -> acc + x)"
        ).alias("simhash"),
    )


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs by SimHash banding + exact hamming verify.

    With 4 bands of ~16 bits, any pair within hamming distance 3 shares at
    least one whole band (pigeonhole), so recall is exact for
    max_hamming < bands; precision comes from the final bit_count check.
    """
    sig = simhash(df, id_col, text_col).localCheckpoint(eager=True)
    width = 63 // bands + 1
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "doc",
        "simhash",
        F.posexplode(band_vals).alias("band", "band_val"),
    )
    a = banded.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "band_val")
    b = banded.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "band_val")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup(df: DataFrame, id_col: str, vec_col: str,
                       block_col: str, threshold: float = 0.95,
                       salt: int = 4,
                       max_block_pairs: int | None = None) -> DataFrame:
    """Near-dup pairs by cosine similarity, blocked on ``block_col``
    (a cluster/label/LSH-bucket key): all-pairs only *within* blocks.

    For unblocked corpora, feed the bucket column from
    similarity.hyperplane_bucket as ``block_col``.

    Scale shape: the pair scan is COMPUTE-dense but byte-light (a few
    KB of vectors fan out into millions of dot products), so a plain
    key join gets mis-sized twice — AQE coalesces the small shuffle
    onto one or two tasks, and a low-cardinality block key (a handful
    of labels) caps parallelism at the block count. Both sides are
    therefore EXPLICITLY co-partitioned on (block, salt) with a fixed
    partition count (explicit repartition is exempt from AQE
    coalescing): the probe side salts by ``hash(id) % salt``, the
    build side replicates each row ``salt`` times, so every pair is
    generated exactly once while parallelism scales as
    blocks × salt. ``salt`` is a mild constant (replicating the
    build-side shuffle 4x), raise it for corpora with very few
    blocks. Measured at a 10x scale step: the label-blocked pair scan
    went 273 s → seconds once the work actually spread across the
    executor threads.

    Scale GUARDRAIL: blocking only bounds the pair scan if the block
    key's cardinality grows with the corpus. A fixed-cardinality key
    (a handful of labels) is a documented quadratic trap — measured
    14.5× wall at a 10× decade step — and at 100 TB a one-label
    corpus would silently attempt ~n²/2 dot products. The plan
    therefore embeds a lazy per-block pair budget: if any block's
    n·(n-1)/2 exceeds ``max_block_pairs`` (default
    ``CORKSCREW_EMB_BLOCK_PAIR_BUDGET`` env, 100M pairs), the job
    fails fast at the first scanned row of the offending block with a
    message pointing at the scale path (``semdedup_keep``, whose
    k-means blocking has constant expected cluster size at any corpus
    size). The check is a broadcast of per-block counts — no extra
    driver job, and the count subtree scans only the block column.
    Pass ``max_block_pairs=0`` to disable."""
    if max_block_pairs is None:
        max_block_pairs = int(os.environ.get(
            "CORKSCREW_EMB_BLOCK_PAIR_BUDGET", str(100_000_000)))
    P = df.sparkSession.sparkContext.defaultParallelism
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))
    base = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"),
        vec.alias("v"), norm.alias("nrm"),
    )
    if max_block_pairs:
        # lazy fail-fast: per-block row counts (a tiny one-row-per-block
        # aggregate, broadcast back) gate the probe side through
        # assert_true BEFORE the pair join fans out — the filter fires on
        # the first row of an over-budget block, not after n²/2 work
        pairs = (F.col("__blk_n") * (F.col("__blk_n") - 1) / 2).cast("long")
        counts = base.groupBy("blk").agg(F.count("*").alias("__blk_n"))
        guard = F.assert_true(
            pairs <= F.lit(max_block_pairs),
            F.concat(
                F.lit("embedding_near_dup: block "), F.col("blk").cast("string"),
                F.lit(" has "), F.col("__blk_n").cast("string"),
                F.lit(" rows = "), pairs.cast("string"),
                F.lit(f" candidate pairs > budget {max_block_pairs}"
                      " (CORKSCREW_EMB_BLOCK_PAIR_BUDGET). The block key's"
                      " cardinality does not bound the pair scan at this"
                      " corpus size — use semdedup_keep (constant expected"
                      " cluster size) or a finer block key, or raise the"
                      " budget / pass max_block_pairs=0 to override.")))
        base = (base.join(F.broadcast(counts), "blk")
                    .filter(guard.isNull())
                    .drop("__blk_n"))
    a = base.select(
        F.col("id").alias("id_a"), "blk", F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.pmod(F.hash("id"), F.lit(salt)).alias("__salt"))
    b = base.select(
        F.col("id").alias("id_b"), "blk", F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt"))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    # zero-norm vectors (padding rows, failed encoders) are similar to
    # nothing: cosine 0, not an ANSI DIVIDE_BY_ZERO mid-job
    cos = F.when((F.col("na") == 0) | (F.col("nb") == 0), F.lit(0.0)
                 ).otherwise(dot / (F.col("na") * F.col("nb")))
    return (
        a.repartition(P, "blk", "__salt")
        .join(b.repartition(P, "blk", "__salt"), ["blk", "__salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_gemm(df: DataFrame, id_col: str, vec_col: str,
                            block_col: str,
                            threshold: float = 0.95,
                            max_block_pairs: int | None = None
                            ) -> DataFrame:
    """``embedding_near_dup`` executed as ONE matrix multiply per
    block (`applyInPandas`, Arrow-batched numpy): normalize the
    block's (n×d) matrix, take M·Mᵀ once, emit the upper-triangle
    pairs above threshold — the execution shape the SemDeDup paper
    uses per cluster. Same operator contract as the expression-tree
    variant (any orderable id type; cosine computed in the same
    dot/(|a|·|b|) order), matching its pair set and 4-dp cosines up
    to last-ulp float-summation differences at the exact threshold
    boundary (BLAS sums pairwise, Catalyst folds sequentially); the
    BLAS kernel runs the per-pair arithmetic 10-100× faster than
    Catalyst's interpreted higher-order-function dot product, at the
    cost of one Arrow transfer of each block.

    Trade-offs vs the expression variant:
    parallelism is one task per BLOCK (no salting — the GEMM wants the
    whole block), and a block must fit in one executor's memory
    (n×d vectors + the n×n similarity triangle; ~20k×64 floats ≈
    3 GB peak — size blocks accordingly, e.g. semdedup_keep's
    constant-cluster-size blocking). Prefer this variant when blocks
    are mid-sized and plentiful; prefer the salted expression variant
    for few huge blocks.

    Scale GUARDRAIL (r9 verdict nit 4 — unified with the expression
    variant): the SAME per-block pair budget applies —
    ``max_block_pairs`` (default ``CORKSCREW_EMB_BLOCK_PAIR_BUDGET``
    env, 100M pairs; 0 disables) refuses any block whose n·(n−1)/2
    exceeds it, BEFORE the memory row bound is consulted, so the same
    corpus is refused consistently under either implementation
    instead of one impl admitting ~4.5×10⁸-pair blocks the other
    refuses at 10⁸. The remaining ``CORKSCREW_GEMM_BLOCK_MAX_ROWS``
    row bound is this variant's additional MEMORY ceiling (the n×n
    float64 triangle must fit one task)."""
    import pandas as pd

    # the pair-id columns carry whatever type the input id column has
    # (long ids, string doc keys, …) — same contract as the expression
    # variant, checked here instead of failing at Arrow conversion
    # mid-job
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    # resolved on the DRIVER and captured into the closure: Python
    # workers fork from a daemon that inherited the session-start env,
    # so a later driver-side override would never reach them
    limit = int(os.environ.get("CORKSCREW_GEMM_BLOCK_MAX_ROWS", "30000"))
    if max_block_pairs is None:
        max_block_pairs = int(os.environ.get(
            "CORKSCREW_EMB_BLOCK_PAIR_BUDGET", str(100_000_000)))
    pair_budget = max_block_pairs
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("id"),
                     F.col(block_col).alias("blk"), vec.alias("v"))
    if pair_budget:
        # the SAME pre-fanout gate as the expression variant (r10
        # review): a one-row-per-block broadcast count refuses the
        # over-budget block at the scan, BEFORE its n×d matrix is
        # shuffled and Arrow-transferred to a task; the in-UDF check
        # below stays as the backstop
        pairs = (F.col("__blk_n") * (F.col("__blk_n") - 1) / 2
                 ).cast("long")
        counts = base.groupBy("blk").agg(F.count("*").alias("__blk_n"))
        guard = F.assert_true(
            pairs <= F.lit(pair_budget),
            F.concat(
                F.lit("embedding_near_dup_gemm: block "),
                F.col("blk").cast("string"),
                F.lit(" has "), F.col("__blk_n").cast("string"),
                F.lit(" rows = "), pairs.cast("string"),
                F.lit(f" candidate pairs > budget {pair_budget}"
                      " (CORKSCREW_EMB_BLOCK_PAIR_BUDGET). The block"
                      " key's cardinality does not bound the pair scan"
                      " at this corpus size — use semdedup_keep"
                      " (constant expected cluster size) or a finer"
                      " block key, or raise the budget / pass"
                      " max_block_pairs=0 to override.")))
        base = (base.join(F.broadcast(counts), "blk")
                    .filter(guard.isNull())
                    .drop("__blk_n"))

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        # shared pair budget FIRST (the semantics bound, identical to
        # the expression variant's): the same corpus must be refused
        # consistently under either impl
        npairs = n * (n - 1) // 2
        if pair_budget and npairs > pair_budget:
            raise ValueError(
                f"embedding_near_dup_gemm: block {pdf['blk'].iat[0]!r} has "
                f"{n} rows = {npairs} candidate pairs > budget "
                f"{pair_budget} (CORKSCREW_EMB_BLOCK_PAIR_BUDGET). The "
                "block key's cardinality does not bound the pair scan at "
                "this corpus size — use semdedup_keep (constant expected "
                "cluster size) or a finer block key, or raise the budget "
                "/ pass max_block_pairs=0 to override.")
        # memory guardrail: the n×n similarity matrix is this variant's
        # hard bound (n=30k ≈ 7.2 GB of float64) — fail with the remedy
        # instead of an executor OOM mid-job
        if limit and n > limit:
            raise ValueError(
                f"embedding_near_dup_gemm: block {pdf['blk'].iat[0]!r} has "
                f"{n} rows; its n×n similarity matrix (~{n * n * 8 >> 20} MB)"
                " exceeds the per-task bound (CORKSCREW_GEMM_BLOCK_MAX_ROWS"
                f"={limit}). Use the salted expression variant "
                "(embedding_near_dup) for few huge blocks, or semdedup_keep"
                " for constant-size blocking, or raise the bound.")
        ids = pdf["id"].to_numpy()
        m = np.vstack(pdf["v"].to_numpy())
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine 0, never dup
        # dot / (norm_a * norm_b), the SAME arithmetic order as the
        # expression variant's `dot / (na * nb)` — normalizing rows
        # before the multiply computes (x/|x|)·(y/|y|), whose last-ulp
        # differences can flip the 4-dp rounding exactly at the
        # threshold boundary (BLAS pairwise summation inside the dot
        # still differs from Catalyst's sequential fold, so boundary
        # parity is near-certain, not bit-guaranteed)
        sim = (m @ m.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(n, k=1)
        keep = np.round(sim[ia, ib], 4) >= threshold
        ia, ib = ia[keep], ib[keep]
        a, b = ids[ia], ids[ib]
        # duplicate id VALUES pair distinct rows: drop them exactly as
        # the expression variant's id_a < id_b filter does (a self-edge
        # would corrupt downstream dup_clusters components)
        ne = a != b
        a, b, ia, ib = a[ne], b[ne], ia[ne], ib[ne]
        lo = np.where(a <= b, a, b)  # object-safe (string ids too)
        hi = np.where(a <= b, b, a)
        return pd.DataFrame({"id_a": lo, "id_b": hi,
                             "cosine": np.round(sim[ia, ib], 4)})

    return base.groupBy("blk").applyInPandas(_pairs, out_schema)


def semdedup_keep(corpus: DataFrame, id_col: str, vec_col: str,
                  nlist: int | None = 16, threshold: float = 0.97,
                  train_iters: int = 2,
                  centroids: list[list[float]] | None = None,
                  rows_per_cluster: int = 256) -> DataFrame:
    """SemDeDup (semantic dedup over embeddings): k-means-cluster the
    corpus, find near-identical pairs *within* clusters only, keep one
    representative per duplicate component.

    Composition of the existing scale primitives: the IVF coarse
    quantizer (similarity.ivf_centroids) provides the blocking,
    embedding_near_dup_gemm does the within-cluster pair scan (one BLAS
    M·Mᵀ per cluster — all-pairs only inside a cluster, never across the
    corpus), and dup_clusters collapses pairs to components. Cluster
    assignment runs BLAS-side too (similarity.assign_pandas): with
    constant cluster size nlist grows with n, and an expression-tree
    assignment would be O(n·nlist·dim) interpreted terms.
    Pass ``centroids`` (e.g. from a persisted IVF index) to skip
    training — the build-once/probe-many pattern.

    ``nlist=None`` sizes the blocking from the data:
    ``max(8, n // rows_per_cluster)`` clusters, i.e. a CONSTANT
    expected cluster size — the within-cluster pair scan then costs
    O(n · rows_per_cluster) however big the corpus grows. A FIXED
    nlist makes the scan O(n²/nlist): measured 193 s at a 10x scale
    step (20k vectors, nlist=8) vs ~4 s with scaled blocking — at
    100 TB a fixed cluster count is the difference between a dedup
    pass and an all-pairs job — and constant-size clusters are exactly
    the block shape the GEMM pair scan wants.

    Returns (id, cluster_id, keep): every corpus row appears; rows with
    no near-duplicate keep cluster_id = own id and keep = true.
    """
    from corkscrew_spark.operators import similarity

    if nlist is None:
        # footer-count only (aggregate pushdown); one tiny job
        nlist = max(8, corpus.count() // rows_per_cluster)
    cents = centroids if centroids is not None else similarity.ivf_centroids(
        corpus, id_col, vec_col, nlist=nlist, iters=train_iters)
    assigned = similarity.assign_pandas(corpus, vec_col, cents, "_semcid")
    pairs = embedding_near_dup_gemm(assigned, id_col, vec_col, "_semcid",
                                    threshold=threshold)
    comps = dup_clusters(pairs, "id_a", "id_b")
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(comps.withColumnRenamed("doc_id", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("cluster_id", "id").alias("cluster_id"),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster formation — pairs → connected components → keep-list
# ---------------------------------------------------------------------------

def dup_clusters(pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
                 max_iter: int = 20, star_after: int = 4) -> DataFrame:
    """Connected components over near-dup pairs: the step that turns pair
    lists (from any of the strategies above) into the actual dedup
    decision. Returns (doc_id, cluster_id, keep) where cluster_id is the
    MIN doc id reachable through dup edges and ``keep`` marks the one
    representative per cluster.

    Two-phase algorithm. Phase 1: iterative min-label propagation
    (label(x) ← min(label(x), min label of neighbors)) — two propagation
    hops per convergence round, fused into ONE checkpointed job (the
    first hop's output feeds the second hop's neighbor-min join AND
    merge join; exchange reuse dedupes the double read — see the in-loop
    comment). The round's convergence flag count rides the checkpoint
    job as an observed aggregate — one action per round, zero probe
    actions. The fixpoint check on the round's last hop is sound because
    it certifies the operator applied to the previous hop's output
    changed nothing. Hops needed = graph diameter; near-dup clusters are
    normally shallow (dup sets, not social graphs), so this converges in
    a handful of rounds. Phase 2: if the graph hasn't converged after
    ``star_after`` rounds (2·``star_after`` hops), the diameter is
    adversarially large (templated-spam chains — exactly when dedup
    matters most), so the remaining work routes to
    graph.connected_components_star, whose large-star/small-star
    contraction finishes in O(log n) rounds instead of O(diameter).
    ``max_iter`` caps phase 1 (jointly with ``star_after``) and RAISES
    the star fallback's round bound when larger than star's default of
    50 — lowering it never starves the fallback below the bound that
    always sufficed (O(log n) needs far fewer than 50 rounds on any
    real graph).

    Parity note: same shape as operators/graph.py BFS;
    the reference has no dedup subsystem — this is part of the
    beyond-reference training-data surface (SURVEY §7 step 9).
    """
    edges, _ = _ckpt_observe(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    # labels₀ stays LAZY (one distinct over the checkpointed edge scan):
    # it is only read inside round 1's plan — twice, like any inner-hop
    # frame, and exchange reuse dedupes that read exactly as it does for
    # the fused hops (same A/B family as the inner hop below). The old
    # eager checkpoint was one more job + barrier per call.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    for _ in range(min(max_iter, star_after)):
        updated = None
        for _hop in range(2):
            neighbor_min = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            updated = (
                labels.join(neighbor_min,
                            labels["node"] == neighbor_min["src"], "left")
                .select(
                    "node",
                    F.least(F.col("label"),
                            F.coalesce("nbr_label", "label")).alias("label"),
                    (F.col("nbr_label") < F.col("label")).alias("changed"),
                )
            )
            # The inner hop stays lazy although its output is read
            # twice (neighbor-min join and merge join): exchange reuse
            # catches the double reference. A 3-way interleaved A/B at
            # 32 AND 8 cores measured lazy two-hop fastest (32c: 3.93 s
            # vs 4.14 s checkpointing the inner hop vs 4.44 s one-hop on
            # dedup_clusters; 8c: 4.06/4.33/4.45) with 3 fewer jobs per
            # query than the checkpointed variant.
            labels = updated.drop("changed")
        # `changed` reflects the round's FINAL hop only — zero changes
        # mean the propagation operator is at its fixpoint (labels
        # constant per component = the component minimum), regardless of
        # what earlier hops did. The flag count rides the round's
        # checkpoint job as an observed aggregate (session.ckpt_observe)
        # instead of a second probe action.
        ck, m = _ckpt_observe(
            updated, F.count(F.when(F.col("changed"), 1)).alias("nc"))
        labels = ck.drop("changed")
        if m["nc"] == 0:
            converged = True
            break
    if not converged:
        # Deep-chain fallback: O(log n) star contraction labels every
        # node with its component minimum — same output contract.
        from corkscrew_spark.operators.graph import connected_components_star

        labels = connected_components_star(
            edges, max_rounds=max(max_iter, 50)).select(
            "node", F.col("component").alias("label"))
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Decontamination — benchmark n-gram overlap
# ---------------------------------------------------------------------------

def decontaminate(corpus: DataFrame, benchmark: DataFrame, id_col: str,
                  text_col: str, n: int = 5, min_hits: int = 1,
                  max_shingle_df: int = 1000) -> DataFrame:
    """Flag corpus documents sharing ≥ ``min_hits`` distinct word
    ``n``-grams with any benchmark document — the test-set-leakage check
    every pretraining pipeline runs before training.

    Same scale shape as the Jaccard pass: candidates come from the
    shingle equi-join (never corpus × benchmark), with a document-
    frequency cap dropping boilerplate shingles that would explode the
    join. The benchmark side is small by nature — Spark broadcasts it.

    Returns (doc_id, bench_id, shared_ngrams), one row per contaminated
    (corpus doc, benchmark doc) pair.
    """
    c_sh = shingle_set(corpus, id_col, text_col, n=n).withColumnRenamed(
        "doc", "doc_id"
    )
    b_sh = shingle_set(benchmark, id_col, text_col, n=n).withColumnRenamed(
        "doc", "bench_id"
    )
    # Semi-join prefilter (guide §3.2): only corpus shingles that occur in
    # the (broadcast-small) benchmark can ever produce a pair, and
    # filtering by shingle VALUE leaves each surviving shingle's corpus
    # document frequency unchanged — so the df cap computed over the
    # prefiltered relation is identical, while the count shuffle carries
    # only benchmark-matching shingles instead of the whole corpus.
    hits = c_sh.join(F.broadcast(b_sh.select("shingle")), "shingle",
                     "left_semi")
    df_cap = (
        hits.groupBy("shingle").count().filter(F.col("count") <= max_shingle_df)
        .select("shingle")
    )
    return (
        hits.join(F.broadcast(df_cap), "shingle")
        .join(F.broadcast(b_sh), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_hits)
    )


# ---------------------------------------------------------------------------
# Corpus index — near-dup decisions against an already-ingested corpus
# ---------------------------------------------------------------------------

def build_minhash_index(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                        num_hashes: int = 32, bands: int = 8) -> DataFrame:
    """(corpus_doc, band, band_key, corpus_shingles): the persistable LSH
    index of a corpus at rest. New documents (a stream micro-batch, a
    fresh crawl drop) are flagged by band-joining against this instead of
    re-pairing the whole corpus — build once, probe per arrival, same
    contract as the IVF index. Persist with warehouse.write_partitioned
    on ``band`` so a probe prunes to matching band directories.
    """
    band_sig = band_signatures(df, id_col, text_col, n, num_hashes, bands)
    sets = shingle_arrays(df, id_col, text_col, n).withColumnRenamed(
        "arr", "corpus_shingles")
    return (
        band_sig.join(sets, "doc")
        .select(F.col("doc").alias("corpus_doc"), "band", "band_key",
                "corpus_shingles")
    )


def flag_against_index(new_docs: DataFrame, index: DataFrame, id_col: str,
                       text_col: str, n: int = 3, num_hashes: int = 32,
                       bands: int = 8, threshold: float = 0.8) -> DataFrame:
    """Near-dup pairs between ``new_docs`` and an indexed corpus
    (build_minhash_index output): band-join candidates, exact Jaccard
    verify — precision-exact like the batch pair path, but the corpus
    side is never re-shingled. Cost scales with |new_docs| × collision
    rate, not corpus size. Banding parameters must match the index's.

    Returns (doc_id, corpus_doc, jaccard).
    """
    band_sig = band_signatures(new_docs, id_col, text_col, n, num_hashes, bands)
    sets = shingle_arrays(new_docs, id_col, text_col, n)
    cand = (
        band_sig.join(index, ["band", "band_key"])
        .filter(F.col("doc") != F.col("corpus_doc"))
        .select("doc", "corpus_doc", "corpus_shingles")
        .dropDuplicates(["doc", "corpus_doc"])
    )
    inter = (
        cand.join(sets, "doc")
        .select(
            "doc", "corpus_doc",
            F.size(F.array_intersect("arr", "corpus_shingles")).alias("inter"),
            F.size("arr").alias("n_a"),
            F.size("corpus_shingles").alias("n_b"),
        )
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.filter(jac >= threshold)
        .select(F.col("doc").alias(id_col), "corpus_doc",
                F.round(jac, 4).alias("jaccard"))
    )


def doc_spans(docs: DataFrame, id_col: str, text_col: str,
              n: int = 20) -> DataFrame:
    """(id, pos, span_key) — one row per length-``n`` token window of
    each doc (stride 1), keyed by the md5 of the joined window so the
    key is engine-portable. Map-side transform over index ranges; docs
    shorter than ``n`` tokens contribute nothing.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    keys = F.transform(
        F.sequence(F.lit(1), F.size(F.col("t")) - (n - 1)),
        lambda i: F.md5(F.array_join(F.slice(F.col("t"), i, n), " ")),
    )
    return (
        docs.select(F.col(id_col).alias("id"), toks.alias("t"))
        .filter(F.size("t") >= n)
        .select("id", F.posexplode(keys).alias("pos0", "span_key"))
        .select("id", (F.col("pos0") + 1).alias("pos"), "span_key")
    )


def duplicated_spans(docs: DataFrame, id_col: str, text_col: str,
                     n: int = 20) -> DataFrame:
    """Exact duplicated-substring detection (the span-level dedup pass of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, bounded to fixed-length token windows instead of a suffix
    array): count, per doc, the windows whose exact content also occurs
    in ANOTHER doc.

    Plan: the span relation is |tokens| rows; shared keys come from one
    groupBy on the span key (map-side partial) filtered to
    cross-document keys, then a semi-join flags each doc's spans. At
    corpus scale both steps shuffle on the 128-bit key — no all-pairs
    anywhere. Returns (id, n_spans, n_dup_spans).
    """
    spans = doc_spans(docs, id_col, text_col, n)
    shared = (
        spans.groupBy("span_key")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("span_key")
    )
    flagged = spans.join(
        shared.withColumn("__dup", F.lit(1)), "span_key", "left"
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.coalesce("__dup", F.lit(0))).cast("long").alias("n_dup_spans"),
        )
    )
