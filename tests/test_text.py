"""Text-analysis operator tests on handmade documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from corkscrew_spark.operators import text


def _one(spark, s: str):
    return spark.createDataFrame([(1, s)], "doc_id long, text string")


def test_token_count_and_avg_len(spark):
    df = _one(spark, "aa bbb cccc")
    row = df.select(
        text.token_count("text").alias("n"),
        F.round(text.avg_token_len("text"), 4).alias("wl"),
    ).collect()[0]
    assert row["n"] == 3
    assert row["wl"] == 3.0  # (11 - 2) / 3


def test_stopword_ratio_and_quality_bounds(spark):
    df = _one(spark, "the cat and the hat")
    row = df.select(
        F.round(text.stopword_ratio("text"), 4).alias("sw"),
        text.quality_score("text").alias("q"),
    ).collect()[0]
    assert row["sw"] == 0.6  # the, and, the
    assert 0.0 <= row["q"] <= 1.0


def test_language_id_argmax_and_tiebreak(spark):
    rows = [
        (1, "the dog of war"),          # en markers
        (2, "el perro de la guerra"),   # es markers
        (3, "der hund und das leben"),  # de markers
        (4, "zzz qqq www"),             # none -> und
        (5, "the el"),                  # 1-1 tie -> en (priority order)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in
           df.select("doc_id", text.language_id("text").alias("p")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und", 5: "en"}


def test_fingerprint_normalization(spark):
    rows = [(1, "Hello,   World!"), (2, "hello world"), (3, "other text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = [r["fp"] for r in df.select(text.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_prefix_key(spark):
    df = _one(spark, "a b c d e f g")
    assert df.select(text.prefix_key("text", 3).alias("k")).collect()[0]["k"] == "a b c"


def test_redact_pii_all_kinds(spark):
    from corkscrew_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-y.org ssn 123-45-6789 phone 25-989-741-2988 "
             "ip 10.0.2.15 clean text 2024-01-01")],
        "id long, text string",
    )
    out = df.select(t.redact_pii("text").alias("r")).collect()[0]["r"]
    assert "<EMAIL>" in out and "<SSN>" in out and "<PHONE>" in out and "<IP>" in out
    assert "a.b+c@x-y.org" not in out and "123-45-6789" not in out
    assert "clean text 2024-01-01" in out  # dates survive


def test_redact_pii_kind_subset_and_counts(spark):
    from pyspark.sql import functions as F

    from corkscrew_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "x@y.io and 10.0.0.1 and x2@y.io")], "id long, text string"
    )
    only_email = df.select(t.redact_pii("text", kinds=("email",)).alias("r")).first()["r"]
    assert only_email == "<EMAIL> and 10.0.0.1 and <EMAIL>"
    counts = t.pii_counts(F.col("text"))
    got = df.select(counts["email"].alias("e"), counts["ipv4"].alias("i")).first()
    assert (got["e"], got["i"]) == (2, 1)


def test_decontaminate_planted_leak(spark):
    from corkscrew_spark.operators import dedup

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words then the quick brown fox jumps here"),  # leaks 4-grams
            (2, "completely different content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    got = dedup.decontaminate(corpus, bench, "doc_id", "text", n=4).collect()
    assert len(got) == 1
    r = got[0]
    # shared distinct 4-grams: "the quick brown fox", "quick brown fox jumps"
    assert (r["doc_id"], r["bench_id"], r["shared_ngrams"]) == (1, 100, 2)


def test_repetition_signals_planted(spark):
    from corkscrew_spark.operators import text as t

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),            # 3 dup 2-grams of 3, top token 1.0
            (2, "all words here are unique now"),  # no repetition
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           t.with_repetition_signals(df, "doc_id", "text").collect()}
    assert got[1]["dup_2gram_frac"] == round(1 - 1 / 3, 4)
    assert got[1]["dup_3gram_frac"] == 0.5
    assert got[1]["top_token_frac"] == 1.0
    assert got[2]["dup_2gram_frac"] == 0.0
    assert got[2]["top_token_frac"] == round(1 / 6, 4)


def test_repetition_signals_short_docs_are_zero(spark):
    from corkscrew_spark.operators import text as t

    df = spark.createDataFrame([(1, "single")], "doc_id long, text string")
    r = t.with_repetition_signals(df, "doc_id", "text").collect()[0]
    assert (r["dup_2gram_frac"], r["dup_3gram_frac"], r["top_token_frac"]) == (0.0, 0.0, 1.0)


def test_token_quantiles_approx_close_to_exact(spark):
    """percentile_approx at accuracy 10000 must land within one rank of
    DuckDB's exact discrete quantile on every source."""
    import duckdb

    from corkscrew_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r["source"]: r for r in
           QUERIES["token_quantiles_approx"](spark, sf).collect()}
    con = duckdb.connect()
    exact = con.execute(f"""
        SELECT source,
               quantile_disc(len(string_split(text, ' ')), 0.5) AS p50,
               quantile_disc(len(string_split(text, ' ')), 0.9) AS p90
        FROM read_parquet('{sf}/documents.parquet') GROUP BY source
    """).fetchall()
    con.close()
    assert got
    for source, p50, p90 in exact:
        assert abs(got[source]["p50_tokens"] - p50) <= 2
        assert abs(got[source]["p90_tokens"] - p90) <= 2


# ---------------------------------------------------------------------------
# Gopher quality filters
# ---------------------------------------------------------------------------

class TestGopherFlags:
    def _flags(self, spark, text, **kw):
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        from corkscrew_spark.operators import text as t
        return t.gopher_quality_flags(df, "doc_id", "text", **kw).collect()[0]

    def test_good_doc_keeps(self, spark):
        body = "the quick brown fox jumps over that lazy dog with vigor " * 6
        row = self._flags(spark, body.strip())
        assert row.keep == 1 and row.n_words == 66 and row.stop_hits >= 2

    def test_short_doc_dropped(self, spark):
        assert self._flags(spark, "the cat sat with that hat").keep == 0

    def test_bullet_heavy_dropped(self, spark):
        # 10 lines, all bullets -> bullet ratio 1.0 > 0.9
        lines = "\n".join("- the item be of and that have with filler pad" for _ in range(10))
        row = self._flags(spark, lines, min_words=10)
        assert row.bullet_lines == 10 and row.keep == 0

    def test_ellipsis_lines_dropped(self, spark):
        lines = "\n".join(
            ("the trailing thought goes on..." if i < 5 else "a plain sentence here")
            for i in range(10))
        row = self._flags(spark, lines, min_words=10)
        assert row.ellipsis_lines == 5 and row.keep == 0  # 50% > 30%

    def test_no_stopwords_dropped(self, spark):
        body = "alpha beta gamma delta epsilon zeta " * 10
        row = self._flags(spark, body.strip(), min_words=10)
        assert row.stop_hits == 0 and row.keep == 0

    def test_symbol_heavy_dropped(self, spark):
        body = "the code #tag be of and that have with " + "# " * 20
        row = self._flags(spark, body.strip(), min_words=10)
        assert row.n_symbols >= 20 and row.keep == 0

    def test_mean_word_length_bounds(self, spark):
        # single-char words -> mean length 1 < 3
        body = "the be to of and " + "a b c d e f g h i j " * 5
        row = self._flags(spark, body.strip(), min_words=10)
        assert row.sum_word_len < 3 * row.n_words and row.keep == 0

    def test_alpha_word_ratio(self, spark):
        nums = " ".join(str(i) for i in range(40))
        body = "the be of and that have with words here now " + nums
        row = self._flags(spark, body, min_words=10)
        assert row.alpha_words * 5 < row.n_words * 4 and row.keep == 0

    def test_bullet_ratio_boundary_kept(self, spark):
        # Rae et al. A1.1 removes docs with MORE than 90% bullet lines;
        # exactly 90% (9 of 10 lines) must be KEPT.
        lines = ["- the item be of and that have with filler pad"] * 9
        lines.append("the plain closing sentence with that word here")
        row = self._flags(spark, "\n".join(lines), min_words=10)
        assert row.bullet_lines * 10 == row.n_lines * 9
        assert row.keep == 1

    def test_symbol_ratio_boundary_kept(self, spark):
        # Exactly 0.1 symbols-per-word sits ON the threshold -> keep
        # (only strictly-above is removed). 20 words with 2 '#' chars
        # embedded inside the last word => ratio exactly 0.1.
        words = ["the", "be", "of", "and", "that", "have", "with",
                 "word", "here", "now"] + ["pad"] * 9 + ["pa#d#"]
        body = " ".join(words)
        row = self._flags(spark, body, min_words=10)
        assert row.n_words == 20 and row.n_symbols == 2
        assert row.n_symbols * 10 == row.n_words
        assert row.keep == 1


# ---------------------------------------------------------------------------
# Hashed n-gram classifier scoring
# ---------------------------------------------------------------------------

class TestHashedNgramScore:
    def test_term_count_unigrams_plus_bigrams(self, spark):
        from corkscrew_spark.operators import text as t
        df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        row = t.hashed_ngram_score(df, "doc_id", "text").collect()[0]
        assert row.n_terms == 7  # 4 unigrams + 3 bigrams

    def test_single_token_has_no_bigrams(self, spark):
        from corkscrew_spark.operators import text as t
        df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
        assert t.hashed_ngram_score(df, "doc_id", "text").collect()[0].n_terms == 1

    def test_weights_table_path_matches_closed_form(self, spark):
        """Feeding the closed-form weights through the broadcast-join path
        reproduces the inline margins exactly (integer weights)."""
        from corkscrew_spark.operators import text as t
        docs = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "jumps over the lazy dog")],
            "doc_id long, text string")
        n_buckets = 4096
        weights = spark.range(n_buckets).select(
            F.col("id").alias("bucket"),
            ((F.col("id") * 2654435761) % 1000001 - 500000)
            .cast("double").alias("weight"))
        inline = {r.doc_id: r.margin
                  for r in t.hashed_ngram_score(docs, "doc_id", "text").collect()}
        joined = {r.doc_id: int(r.margin)
                  for r in t.hashed_ngram_score(
                      docs, "doc_id", "text", weights=weights).collect()}
        assert inline == joined

    def test_deterministic_across_runs(self, spark):
        from corkscrew_spark.operators import text as t
        df = spark.createDataFrame([(1, "stable input text")], "doc_id long, text string")
        a = t.hashed_ngram_score(df, "doc_id", "text").collect()[0]
        b = t.hashed_ngram_score(df, "doc_id", "text").collect()[0]
        assert a == b
