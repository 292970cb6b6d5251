"""Corpus-pass operators: boilerplate line removal, unigram LM scoring,
TF-IDF salience, SemDeDup. The oracle queries cover the fixture corpus;
these tests pin the multi-line / planted-duplicate semantics the
single-line fixture can't exercise.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from corkscrew_spark.operators import corpus, dedup


@pytest.fixture()
def multiline_docs(spark):
    header = "SITE NAV | home | about"
    footer = "(c) example footer"
    rows = [
        (1, "web", f"{header}\nunique first body\n{footer}"),
        (2, "web", f"{header}\nsecond body line\nextra detail\n{footer}"),
        (3, "web", f"{header}\n{footer}"),          # all-boilerplate doc
        (4, "web", "standalone page no chrome"),
        (5, "mail", f"{header}\nmail body"),        # other group: freq 1 there
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_boilerplate_removed_within_group_only(multiline_docs):
    out = {
        r.doc_id: r.clean_text
        for r in corpus.remove_boilerplate_lines(
            multiline_docs, "doc_id", "text", "source", min_docs=2
        ).collect()
    }
    assert out[1] == "unique first body"
    assert out[2] == "second body line\nextra detail"  # order preserved
    assert out[3] == ""                                 # fully boilerplate
    assert out[4] == "standalone page no chrome"
    # group 'mail' sees the header only once -> kept
    assert out[5] == "SITE NAV | home | about\nmail body"


def test_boilerplate_blank_lines_never_counted(spark):
    docs = spark.createDataFrame(
        [(1, "g", "a\n\nb"), (2, "g", "c\n\nd"), (3, "g", "e\n\nf")],
        "doc_id long, source string, text string",
    )
    out = {
        r.doc_id: r.clean_text
        for r in corpus.remove_boilerplate_lines(
            docs, "doc_id", "text", "source", min_docs=2
        ).collect()
    }
    # the blank middle line appears in all 3 docs but must survive
    assert out[1] == "a\n\nb" and out[2] == "c\n\nd" and out[3] == "e\n\nf"


def test_unigram_logprob_hand_computed(spark):
    # corpus: tokens a a a b  ->  p(a)=3/4, p(b)=1/4
    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], "doc_id long, text string")
    rows = {r.id: r for r in corpus.unigram_logprob(docs, "doc_id", "text").collect()}
    assert rows[1].n_tokens == 3
    assert rows[1].avg_neg_logprob == pytest.approx(-math.log(0.75), abs=1e-6)
    assert rows[2].avg_neg_logprob == pytest.approx(-math.log(0.25), abs=1e-6)
    # rarer-token doc scores strictly higher
    assert rows[2].avg_neg_logprob > rows[1].avg_neg_logprob


def test_tfidf_rare_term_ranks_first(spark):
    docs = spark.createDataFrame(
        [(1, "common words and zyzzyva"), (2, "common words and filler"),
         (3, "common words and filler")],
        "doc_id long, text string",
    )
    top = {
        (r.id, r.rank): r.term
        for r in corpus.tfidf_top_terms(docs, "doc_id", "text", k=1).collect()
    }
    assert top[(1, 1)] == "zyzzyva"  # unique to doc 1 -> max idf


def test_semdedup_planted_duplicates(spark):
    # two identical vectors + one scaled copy (cosine 1.0), others orthogonal
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),     # dup of 1
        (3, [2.0, 0.0, 0.0, 0.0]),     # scaled dup of 1
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = dedup.semdedup_keep(vecs, "vec_id", "embedding",
                              nlist=2, threshold=0.97)
    by_id = {r.id: r for r in res.collect()}
    assert len(by_id) == 6                       # every row present
    dup_group = {1, 2, 3}
    kept_dups = [i for i in dup_group if by_id[i].keep]
    # 1,2,3 land in one cluster (identical direction -> same centroid),
    # exactly one survives and it is the min id
    assert kept_dups == [1]
    assert all(by_id[i].cluster_id == 1 for i in dup_group)
    for i in (4, 5, 6):
        assert by_id[i].keep and by_id[i].cluster_id == i


def test_semdedup_accepts_precomputed_centroids(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    res = dedup.semdedup_keep(vecs, "vec_id", "embedding",
                              threshold=0.99, centroids=cents)
    assert res.filter("NOT keep").count() == 0   # no dups planted
    assert res.count() == 4


def test_bigram_logprob_hand_computed(spark):
    """Corpus bigrams: doc1 (a,b),(b,a),(a,b) + doc2 (a,a) give prefix
    counts c(a.)=3, c(b.)=1 and P(b|a)=2/3, P(a|a)=1/3, P(a|b)=1."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "solo")], "id long, text string"
    )
    from corkscrew_spark.operators import corpus

    rows = {r.id: r for r in corpus.bigram_logprob(docs, "id", "text").collect()}
    assert 3 not in rows                       # <2 tokens: no bigrams
    assert rows[2].n_bigrams == 1
    assert abs(rows[2].avg_neg_logprob - (-math.log(1 / 3))) < 1e-6
    expect1 = -(math.log(2 / 3) + math.log(1.0) + math.log(2 / 3)) / 3
    assert abs(rows[1].avg_neg_logprob - expect1) < 1e-6


def test_c4_flags_verdicts(spark):
    from corkscrew_spark.operators import text as tx

    good = " ".join(["word"] * 60) + "." # one line, ends in punct, 60 words
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "short line."),                        # < min_words
            (3, good + "\nlorem ipsum dolor."),        # placeholder text
            (4, good.replace("word.", "word{.")),      # brace
            (5, "no punct here\n" + good),             # 1/2 lines punct: keep
            (6, "no\nno\npunct." ),                    # 1/3 lines punct: drop
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in
           tx.c4_quality_flags(docs, "doc_id", "text", min_words=50).collect()}
    assert got[1].keep == 1
    assert got[2].keep == 0
    assert got[3].keep == 0 and got[3].has_lorem == 1
    assert got[4].keep == 0 and got[4].has_brace == 1
    assert got[5].keep == 1 and got[5].punct_lines == 1 and got[5].n_lines == 2
    assert got[6].keep == 0


# ---------------------------------------------------------------------------
# Context-window chunking
# ---------------------------------------------------------------------------

class TestChunkDocuments:
    def _chunks(self, spark, text, window, stride):
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return (corpus.chunk_documents(df, "doc_id", "text",
                                       window=window, stride=stride)
                .orderBy("chunk_no").collect())

    def test_full_coverage_with_overlap(self, spark):
        text = " ".join(f"t{i}" for i in range(10))
        rows = self._chunks(spark, text, window=4, stride=3)
        covered = set()
        for r in rows:
            covered.update(range(r.start_tok, r.start_tok + r.chunk_len))
        assert covered == set(range(1, 11))
        # consecutive chunks overlap by window - stride tokens
        assert [r.start_tok for r in rows] == [1, 4, 7]

    def test_disjoint_when_stride_equals_window(self, spark):
        text = " ".join(f"t{i}" for i in range(9))
        rows = self._chunks(spark, text, window=3, stride=3)
        assert [(r.start_tok, r.chunk_len) for r in rows] == [(1, 3), (4, 3), (7, 3)]
        rebuilt = " ".join(r.chunk_text for r in rows)
        assert rebuilt == text

    def test_short_doc_single_chunk(self, spark):
        rows = self._chunks(spark, "only three tokens", window=10, stride=8)
        assert len(rows) == 1
        assert rows[0].chunk_len == 3 and rows[0].chunk_text == "only three tokens"

    def test_exact_window_no_tail_chunk(self, spark):
        text = " ".join(f"t{i}" for i in range(4))
        rows = self._chunks(spark, text, window=4, stride=3)
        assert len(rows) == 1  # second chunk would add nothing new

    def test_invalid_args_raise(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            corpus.chunk_documents(df, "doc_id", "text", window=0, stride=3)


class TestInvertedIndex:
    def test_postings_and_search(self, spark):
        docs = spark.createDataFrame(
            [(1, "spark query engine"), (2, "query engine spark spark"),
             (3, "spark only here"), (4, "query engine")],
            "doc_id long, text string")
        idx = corpus.build_inverted_index(docs, "doc_id", "text")
        assert {(r.term, r.doc_id, r.tf) for r in
                idx.filter(F.col("term") == "spark").collect()} == {
                    ("spark", 1, 1), ("spark", 2, 2), ("spark", 3, 1)}
        hits = {r.doc_id: r.total_tf for r in
                corpus.search_all_terms(idx, ["spark", "query"]).collect()}
        # docs 1 and 2 contain both; 3 and 4 miss one term each
        assert hits == {1: 2, 2: 3}

    def test_case_folding_and_validation(self, spark):
        import pytest as _pytest
        docs = spark.createDataFrame([(1, "Spark SPARK")], "doc_id long, text string")
        idx = corpus.build_inverted_index(docs, "doc_id", "text")
        assert corpus.search_all_terms(idx, ["SPARK"]).collect()[0].total_tf == 2
        with _pytest.raises(ValueError):
            corpus.search_all_terms(idx, [])
