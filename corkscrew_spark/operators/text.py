"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in Column functions (JVM-side,
whole-stage-codegen) — no Python UDFs: at 100 TB a row-at-a-time Python
tokenizer is the difference between hours and weeks.

Documents are modeled as (id, text) with single-space token separation
(the general versions split on \\s+; formulas noted where they assume
single-space).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Minimal deterministic per-language marker lexicons for the n-gram/
#: stopword language-ID heuristic. Order = tie-break priority.
LANG_MARKERS: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "a", "of", "and", "to")),
    ("es", ("el", "la", "de", "que", "los")),
    ("de", ("der", "die", "und", "das", "ist")),
]

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(c), " ")


def token_count(text_col: str | Column) -> Column:
    return F.size(tokens(text_col))


def avg_token_len(text_col: str | Column) -> Column:
    """Mean token length; assumes single-space separation so it can be
    computed from scalar lengths (no array explode): (chars - separators)/n."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = token_count(c)
    return (F.length(c) - (n - F.lit(1))) / n


def stopword_ratio(text_col: str | Column, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> Column:
    toks = tokens(text_col)
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return hits / F.size(toks)


def quality_score(text_col: str | Column,
                  stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> Column:
    """Deterministic quality heuristic in [0,1]: rewards mid-length docs,
    reasonable mean token length, and nonzero-but-bounded stopword mass —
    the length/punct/stopword family of filters used by pretraining
    pipelines (and by the reference's keyword-based impact scorer shape,
    base_change_tracker.go:115-312)."""
    n = token_count(text_col)
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    wl = avg_token_len(text_col)
    wl_score = F.when((wl >= 3) & (wl <= 8), 1.0).otherwise(0.5)
    sw = stopword_ratio(text_col, stopwords)
    sw_score = F.when((sw > 0.0) & (sw < 0.5), 1.0).otherwise(0.5)
    return F.round((len_score * 0.5 + wl_score * 0.25 + sw_score * 0.25), 4)


def language_id(text_col: str | Column,
                markers: list[tuple[str, tuple[str, ...]]] | None = None) -> Column:
    """Marker-lexicon language ID: distinct-overlap count per language,
    argmax with fixed priority order on ties; 'und' when no marker hits.

    Built as a cascade of comparisons (not array_max over structs) so the
    identical CASE expression is expressible in any ANSI engine.
    """
    markers = markers or LANG_MARKERS
    toks = tokens(text_col)
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in markers
    }
    langs = [lang for lang, _ in markers]
    expr = F.lit("und")
    # Build the cascade back-to-front: earlier langs win ties.
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        cond = scores[lang] > 0
        for other in langs[:i]:
            cond = cond & (scores[lang] > scores[other])
        for other in langs[i + 1:]:
            cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, lang).otherwise(expr)
    return expr


def normalized(text_col: str | Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    out = F.lower(c)
    out = F.regexp_replace(out, "[^a-z0-9 ]", "")
    out = F.regexp_replace(out, " +", " ")
    return F.trim(out)


def fingerprint(text_col: str | Column) -> Column:
    """128-bit content fingerprint over the normalized text (md5 — stable
    across engines, unlike engine-native hash functions)."""
    return F.md5(normalized(text_col))


def prefix_key(text_col: str | Column, n_tokens: int = 5) -> Column:
    """First-N-token prefix key — cheap near-dup blocking / prefix dedup."""
    return F.array_join(F.slice(tokens(text_col), 1, n_tokens), " ")


#: PII redaction patterns, ordered (earlier rules run first). Patterns
#: stay inside the Java-regex ∩ RE2 shared subset (no backreferences, no
#: lookaround) so the same rule set is replayable in any engine.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{2,3}-\d{3}-\d{3,4}-\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(text_col: str | Column,
               kinds: tuple[str, ...] | None = None) -> Column:
    """Scrub PII spans with typed placeholders — the pre-training scrub
    pass. A regexp_replace cascade in whole-stage codegen: one projection,
    no shuffle, linear scan at any corpus size."""
    out = F.col(text_col) if isinstance(text_col, str) else text_col
    for kind, pattern, repl in PII_PATTERNS:
        if kinds is None or kind in kinds:
            out = F.regexp_replace(out, pattern, repl)
    return out


def pii_counts(text_col: str | Column) -> dict[str, Column]:
    """Per-kind match counts (audit/reporting side of the scrub)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pattern), 0))
        for kind, pattern, _ in PII_PATTERNS
    }


def _gram_list(n: int) -> Column:
    """Non-distinct word n-gram list over a token array bound as column
    ``t`` (repetition measurement needs the multiset, unlike dedup's
    distinct shingle set; binding avoids re-evaluating the split inside
    the lambda — same CSE issue as shingle_set)."""
    terms = ", ".join(f"t[i+{j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size(t) >= {n} THEN "
        f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', {terms})) "
        "ELSE array() END"
    )


def repetition_signals() -> dict[str, Column]:
    """Intra-document repetition features (the Gopher-rule family):
    duplicate n-gram fraction (1 - distinct/total for n = 2, 3) and the
    most-frequent-token share. High values mark boilerplate/spam docs a
    quality filter should drop.

    Returns a dict of named Columns; the caller must alias the token
    array as ``t`` first (see with_repetition_signals) so the n-gram
    lambdas index a bound column.
    """
    t = F.col("t")
    out: dict[str, Column] = {}
    for n in (2, 3):
        grams = _gram_list(n)
        total = F.size(grams)
        frac = F.when(
            total > 0,
            F.round(1.0 - F.size(F.array_distinct(grams)) / total, 4),
        ).otherwise(F.lit(0.0))
        out[f"dup_{n}gram_frac"] = frac
    # Most-frequent-token count == longest equal-run in the sorted token
    # array: O(n log n) per row instead of the O(distinct × n)
    # count-each-distinct-token scan — the per-row constant is what
    # dominates a 100 TB map-only pass.
    run = F.aggregate(
        F.array_sort(t),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    out["top_token_frac"] = F.when(
        F.size(t) > 0, F.round(run / F.size(t), 4)
    ).otherwise(F.lit(0.0))
    return out


def with_repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, dup_2gram_frac, dup_3gram_frac, top_token_frac) per doc."""
    base = df.select(F.col(id_col), tokens(text_col).alias("t"))
    sig = repetition_signals()
    return base.select(
        F.col(id_col),
        F.size("t").alias("n_tokens"),
        sig["dup_2gram_frac"].alias("dup_2gram_frac"),
        sig["dup_3gram_frac"].alias("dup_3gram_frac"),
        sig["top_token_frac"].alias("top_token_frac"),
    )


# ---------------------------------------------------------------------------
# C4-style document heuristics (Raffel et al. 2020 cleaning rules)
# ---------------------------------------------------------------------------

def c4_quality_flags(df: DataFrame, id_col: str, text_col: str = "text",
                     min_words: int = 50) -> DataFrame:
    """Per-document C4 cleaning signals, all integer-typed so the verdict
    is reproducible bit-for-bit in any engine:

    * ``n_lines`` / ``punct_lines`` — physical lines, and lines ending in
      terminal punctuation (C4 keeps only sentences ending in punctuation);
    * ``n_words`` — whitespace token count (C4 drops pages < ~50 words);
    * ``has_lorem`` / ``has_brace`` — placeholder-text and code/markup
      tripwires (C4 removes any page with "lorem ipsum" or '{');
    * ``keep`` — the combined verdict. The punctuation-ratio >= 0.5 test
      is integer cross-multiplication (2*punct >= lines), so no float
      compare can diverge between engines.

    Pure Column expressions — map-only at any scale.
    """
    text = F.col(text_col)
    lines = F.split(text, "\n")
    punct = F.filter(lines, lambda ln: ln.rlike(r"[.!?]$"))
    words = F.size(F.split(F.trim(text), r"\s+"))
    n_lines = F.size(lines).cast("long")
    punct_lines = F.size(punct).cast("long")
    has_lorem = F.lower(text).contains("lorem ipsum").cast("long")
    has_brace = text.contains("{").cast("long")
    keep = (
        (punct_lines * 2 >= n_lines)
        & (words >= min_words)
        & (has_lorem == 0)
        & (has_brace == 0)
    ).cast("long")
    return df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        punct_lines.alias("punct_lines"),
        words.cast("long").alias("n_words"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("keep"),
    )


#: GPT-2-style pretokenizer, simplified to the lookahead-free subset both
#: Java regex and RE2 (DuckDB) interpret identically: a token is an
#: optionally-space-prefixed letter run, digit run, or punctuation run.
BPE_ISH_TOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_token_count(text_col: str | Column) -> Column:
    """Token count under a BPE-style pretokenizer split (letters, digit
    runs, punctuation runs as separate tokens) — tracks real tokenizer
    budgets far better than whitespace counting on code/punctuated text,
    while staying a pure engine-portable regex (no vocab artifact)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_TOKEN_RE), F.lit(0)))


#: The Gopher required-stopword list (Rae et al. 2021 §A1.1): a document
#: must contain at least 2 of these to pass the quality gate.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(df: DataFrame, id_col: str, text_col: str = "text",
                         min_words: int = 50, max_words: int = 100_000) -> DataFrame:
    """Per-document Gopher quality-filter signals (Rae et al. 2021 §A1.1),
    the standard pretraining heuristic gate alongside C4's
    (``c4_quality_flags``). All signals are integer-typed and every ratio
    test is integer cross-multiplication, so the keep verdict is
    bit-reproducible in any engine:

    * word count in [min_words, max_words];
    * mean word length in [3, 10] chars (3·n ≤ Σlen ≤ 10·n);
    * symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1 (the paper
      removes docs strictly ABOVE each threshold, so the boundary keeps);
    * ≤ 90% of lines start with a bullet ('-', '*', '•');
    * ≤ 30% of lines end with an ellipsis;
    * ≥ 80% of words contain at least one alphabetic character;
    * at least 2 distinct GOPHER_STOPWORDS present.

    Pure Column expressions over the token/line arrays — map-only at any
    scale, no shuffle, no UDF.
    """
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    lower_words = F.split(F.lower(F.trim(t)), r"\s+")
    lines = F.split(t, "\n")
    n_words = F.size(words).cast("long")
    sum_word_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("long")
    n_ellipsis = F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), F.lit(0))).cast("long")
    n_symbols = n_hash + n_ellipsis
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^\s*[-*•]"))).cast("long")
    ellipsis_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"\.\.\.$|…$"))).cast("long")
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    stop_hits = F.size(F.array_intersect(
        lower_words, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))).cast("long")
    keep = (
        (n_words >= min_words) & (n_words <= max_words)
        & (sum_word_len >= 3 * n_words) & (sum_word_len <= 10 * n_words)
        & (n_symbols * 10 <= n_words)
        & (bullet_lines * 10 <= n_lines * 9)
        & (ellipsis_lines * 10 <= n_lines * 3)
        & (alpha_words * 5 >= n_words * 4)
        & (stop_hits >= 2)
    ).cast("long")
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        sum_word_len.alias("sum_word_len"),
        n_symbols.alias("n_symbols"),
        n_lines.alias("n_lines"),
        bullet_lines.alias("bullet_lines"),
        ellipsis_lines.alias("ellipsis_lines"),
        alpha_words.alias("alpha_words"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )


def hashed_terms(text_col: str | Column, n_buckets: int = 4096) -> Column:
    """Hashing-trick featurizer (fastText-style): word unigrams + bigrams
    of the lowercased whitespace tokens, each hashed into ``n_buckets``
    via the engine-portable md5-prefix idiom (``conv(md5[:4], 16, 10) %
    B``) — the same feature indices come out of Spark, DuckDB, or any
    engine with md5, so a model trained once scores identically
    everywhere. Returns an array<long> of bucket ids (multiset: repeated
    terms keep their weight mass)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )).otherwise(F.array().cast("array<string>"))
    terms = F.concat(toks, bigrams)
    return F.transform(
        terms,
        lambda term: F.conv(F.substring(F.md5(term), 1, 4), 16, 10)
        .cast("long") % n_buckets,
    )


def classifier_margin(text_col: str | Column,
                      n_buckets: int = 4096) -> Column:
    """The closed-form-pseudo-weights classifier margin as ONE Column —
    the exact expression ``hashed_ngram_score(weights=None)`` computes,
    exposed so composed pipelines (corpus curation / health report) can
    evaluate it in the same projection as other per-doc signals instead
    of paying a second full scan plus a join on the doc id."""
    buckets = hashed_terms(text_col, n_buckets)
    return F.aggregate(
        buckets, F.lit(0).cast("long"),
        lambda acc, b: acc + (b * 2654435761) % 1000001 - 500000,
    )


def hashed_ngram_score(df: DataFrame, id_col: str, text_col: str = "text",
                       n_buckets: int = 4096,
                       weights: DataFrame | None = None) -> DataFrame:
    """Linear text-classifier inference with the hashing trick — the
    serving path of a fastText-style quality model, entirely in
    whole-stage codegen (score 100 TB without a Python row in the loop).

    Two weight sources:

    * ``weights`` DataFrame (bucket, weight): the real-model path. The
      |buckets|-sized table broadcasts; scoring is explode → broadcast
      hash join → per-doc sum — one narrow shuffle on the doc id.
    * ``weights=None``: closed-form pseudo-weights
      ``w(b) = (b·2654435761) mod 1000001 − 500000`` (a Knuth LCG step),
      an integer function evaluated inline — zero joins, map-only, and
      exactly reproducible in the DuckDB oracle. Stands in for trained
      weights where determinism matters more than the model.

    Output: (id, n_terms, margin, score) where ``margin`` is the exact
    integer weight sum and ``score = margin / (500000·n_terms)`` — one
    float op on exact integers, so cross-engine bit-equality holds.
    """
    buckets = hashed_terms(text_col, n_buckets)
    if weights is not None:
        exploded = df.select(F.col(id_col), F.explode(buckets).alias("bucket"))
        return (
            exploded.join(F.broadcast(weights), "bucket", "left")
            .groupBy(id_col)
            .agg(
                F.count("*").alias("n_terms"),
                F.sum(F.coalesce("weight", F.lit(0.0))).alias("margin"),
            )
            .select(
                id_col, "n_terms",
                F.col("margin"),
                (F.col("margin") / F.col("n_terms")).alias("score"),
            )
        )
    margin = classifier_margin(text_col, n_buckets)
    n_terms = F.size(buckets).cast("long")
    return df.select(
        F.col(id_col),
        n_terms.alias("n_terms"),
        margin.alias("margin"),
        F.round(margin / (n_terms * F.lit(500000.0)), 6).alias("score"),
    )
