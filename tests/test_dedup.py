"""Dedup operator tests: planted duplicates + recall vs exact ground truth."""

from __future__ import annotations

import pytest

from corkscrew_spark.operators import dedup

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_planted(spark):
    d = _docs(
        spark,
        [
            (1, "the cat sat on the mat"),
            (2, "The cat sat on the mat!"),  # same after normalization
            (3, "something else entirely here"),
        ],
    )
    got = dedup.exact_duplicates(d, "doc_id", "text").collect()
    assert len(got) == 1
    assert got[0]["doc_count"] == 2 and got[0]["keep_id"] == 1


def test_ngram_jaccard_planted_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    far = "one two three four five six seven eight nine ten"
    d = _docs(spark, [(1, base), (2, near), (3, far)])
    got = dedup.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]
    assert 0.5 <= got[0]["jaccard"] < 1.0


def test_minhash_lsh_recall_equals_exact(spark):
    """On the synthetic corpus, banded MinHash (8x4) must recover every
    exact-Jaccard>=0.8 pair — planted near-dups are j~0.99 where the LSH
    catch probability is ~1-1e-8 per pair."""
    from corkscrew_spark.catalog import register_tables

    d = register_tables(spark, SF)["documents"]
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.8).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(d, "doc_id", "text", threshold=0.8).collect()
    }
    assert exact, "corpus should contain planted near-dups"
    assert lsh == exact  # verified-LSH has no false positives; recall 1.0 here


def test_simhash_identical_and_distinct(spark):
    d = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "utterly different words entirely present"),
        ],
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             dedup.simhash_pairs(d, "doc_id", "text", max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_near_dup_planted(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "x"),
        (2, [0.999, 0.01, 0.0], "x"),   # near-dup of 1
        (3, [0.0, 1.0, 0.0], "x"),      # orthogonal
        (4, [1.0, 0.0, 0.0], "y"),      # same vector, other block: no pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_near_dup(df, "vec_id", "embedding", "label", 0.95).collect()}
    assert got == {(1, 2)}


def test_embedding_near_dup_block_pair_budget(spark):
    """Fixed-cardinality blocking is a documented quadratic trap (a
    one-label 100 TB corpus would attempt ~n²/2 dot products). The
    guardrail must fail FAST — at the block-count gate, before the pair
    join fans out — with a message pointing at the scale path, and an
    in-budget corpus must pass through the same gate unchanged."""
    import pyspark

    rows = [(i, [float(i), 1.0, 0.0], "only") for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    # 40 rows in one block = 780 pairs > budget 100 → raise
    with pytest.raises(Exception) as ei:
        dedup.embedding_near_dup(df, "vec_id", "embedding", "label",
                                 0.95, max_block_pairs=100).collect()
    msg = str(ei.value)
    assert "semdedup_keep" in msg and "780" in msg
    # same corpus, budget honoured → identical result to guardrail-off
    on = dedup.embedding_near_dup(df, "vec_id", "embedding", "label",
                                  0.95, max_block_pairs=1000).collect()
    off = dedup.embedding_near_dup(df, "vec_id", "embedding", "label",
                                   0.95, max_block_pairs=0).collect()
    assert sorted(map(tuple, on)) == sorted(map(tuple, off))
    # env default applies when the argument is omitted
    import os
    old = os.environ.get("CORKSCREW_EMB_BLOCK_PAIR_BUDGET")
    os.environ["CORKSCREW_EMB_BLOCK_PAIR_BUDGET"] = "100"
    try:
        with pytest.raises(Exception):
            dedup.embedding_near_dup(
                df, "vec_id", "embedding", "label", 0.95).collect()
    finally:
        if old is None:
            del os.environ["CORKSCREW_EMB_BLOCK_PAIR_BUDGET"]
        else:
            os.environ["CORKSCREW_EMB_BLOCK_PAIR_BUDGET"] = old


def test_embedding_near_dup_gemm_block_row_bound(spark):
    """The GEMM variant's per-task memory bound fails loudly with the
    remedy, not as an executor OOM."""
    import os

    rows = [(i, [float(i), 1.0], "one") for i in range(20)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    old = os.environ.get("CORKSCREW_GEMM_BLOCK_MAX_ROWS")
    os.environ["CORKSCREW_GEMM_BLOCK_MAX_ROWS"] = "10"
    try:
        with pytest.raises(Exception, match="semdedup_keep"):
            dedup.embedding_near_dup_gemm(
                df, "vec_id", "embedding", "label", 0.95).collect()
    finally:
        if old is None:
            del os.environ["CORKSCREW_GEMM_BLOCK_MAX_ROWS"]
        else:
            os.environ["CORKSCREW_GEMM_BLOCK_MAX_ROWS"] = old


def test_embedding_near_dup_gemm_matches_expression(spark):
    """The per-block GEMM variant (applyInPandas) and the
    expression-tree variant must produce the IDENTICAL pair set and
    4-dp cosines — two physical strategies, one operator contract.
    Checked on a deterministic 120-vector corpus with planted
    near-dups, plus the singleton-block and zero-vector edges."""
    import math

    rows = []
    for i in range(120):
        base = [math.sin(0.1 * i + j) for j in range(8)]
        rows.append((i, base, f"b{i % 5}"))
        if i % 11 == 0:  # planted near-dup
            rows.append((1000 + i, [x * 1.001 + 0.0005 for x in base],
                         f"b{i % 5}"))
    rows.append((5000, [0.0] * 8, "b0"))      # zero vector: never a dup
    rows.append((5001, [1.0] * 8, "lonely"))  # singleton block
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    expr = {(r["id_a"], r["id_b"]): r["cosine"] for r in
            dedup.embedding_near_dup(
                df, "vec_id", "embedding", "label", 0.98).collect()}
    gemm = {(r["id_a"], r["id_b"]): r["cosine"] for r in
            dedup.embedding_near_dup_gemm(
                df, "vec_id", "embedding", "label", 0.98).collect()}
    assert set(expr) == set(gemm) and len(expr) >= 11
    for k in expr:
        assert abs(expr[k] - gemm[k]) <= 1e-4  # same 4-dp rounding


def test_embedding_near_dup_gemm_string_ids(spark):
    """The GEMM variant carries the INPUT id type through to the pair
    columns — string doc keys must work identically to long ids, not
    fail at Arrow conversion mid-job (r8 advisor finding), and
    semdedup_keep inherits the fix."""
    rows = [("doc-b", [1.0, 2.0, 3.0], "x"),
            ("doc-a", [1.0, 2.0, 3.001], "x"),
            ("doc-c", [9.0, -1.0, 0.5], "x"),
            ("doc-d", [1.0, 2.0, 3.0], "y")]  # other block: no pair
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<float>, label string")
    got = dedup.embedding_near_dup_gemm(
        df, "vec_id", "embedding", "label", 0.95).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [("doc-a", "doc-b")]
    assert got[0]["cosine"] >= 0.99
    expr = dedup.embedding_near_dup(
        df, "vec_id", "embedding", "label", 0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in expr} == {("doc-a", "doc-b")}


def test_dup_clusters_components(spark):
    """Hand-built pair graph: {1-2, 2-3} one cluster, {7-9} another,
    singleton 5 absent; min id is the representative."""
    from corkscrew_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 7)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup.dup_clusters(pairs).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        7: (7, True), 9: (7, False),
    }


def test_dup_clusters_chain_converges(spark):
    """A long path (diameter > 1) needs multiple propagation rounds."""
    from corkscrew_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    got = dedup.dup_clusters(chain, max_iter=20).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert sum(r["keep"] for r in got) == 1


def test_dup_clusters_deep_chain_routes_to_star(spark):
    """A diameter-8 chain with star_after=2 can't converge by
    propagation; it must fall back to star contraction and still label
    every node with the component minimum (regression: this used to
    raise, punishing exactly the adversarially-chained dup graphs where
    dedup matters most)."""
    from corkscrew_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    got = dedup.dup_clusters(chain, star_after=2).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert sum(r["keep"] for r in got) == 1 and len(got) == 9


def test_dup_clusters_two_hop_rounds_reach_double_depth(spark):
    """Phase 1 runs TWO propagation hops per checkpointed round (r12
    optimization): star_after=2 = 4 hops, so a diameter-3 path resolves
    AND certifies its fixpoint inside phase 1 (3 changing hops + 1
    quiet hop), where the old 1-hop rounds would have routed to the
    star fallback. A diameter-4 path at the same bound still routes to
    star (the quiet detection hop no longer fits) — both must produce
    the exact component labeling."""
    from corkscrew_spark.operators import dedup

    for n_edges in (3, 4):
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(n_edges)], "doc_a long, doc_b long"
        )
        got = {r["doc_id"]: (r["cluster_id"], r["keep"])
               for r in dedup.dup_clusters(chain, star_after=2).collect()}
        assert got == {i: (0, i == 0) for i in range(n_edges + 1)}


def test_dup_clusters_40_hop_chain(spark):
    """40-hop templated-spam chain: far beyond the default propagation
    bound (star_after=4), resolved by the O(log n) star fallback —
    one cluster rooted at the min id, one representative."""
    from corkscrew_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    got = dedup.dup_clusters(chain).collect()
    assert len(got) == 41
    assert {r["cluster_id"] for r in got} == {0}
    assert [r["doc_id"] for r in got if r["keep"]] == [0]


def test_flag_against_index_batch(spark):
    """New docs near-dup'ing an indexed corpus are flagged; novel docs and
    self-matches are not."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog at dawn"),
         (2, "completely different content about spark execution plans")],
        "doc_id long, text string")
    index = dedup.build_minhash_index(corpus, "doc_id", "text")
    new = spark.createDataFrame(
        # near-dup of corpus doc 1 (one word changed at the end)
        [(100, "the quick brown fox jumps over the lazy dog at dusk"),
         (101, "entirely novel material no overlap whatsoever here")],
        "doc_id long, text string")
    got = dedup.flag_against_index(new, index, "doc_id", "text",
                                   threshold=0.5).collect()
    assert [(r["doc_id"], r["corpus_doc"]) for r in got] == [(100, 1)]
    assert got[0]["jaccard"] >= 0.5


def test_streaming_near_dup_flagging(spark, tmp_path):
    import json as _json

    from corkscrew_spark.streaming import doc_stream

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog at dawn")],
        "doc_id long, text string")
    index = dedup.build_minhash_index(corpus, "doc_id", "text")

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        {"doc_id": 100,
         "text": "the quick brown fox jumps over the lazy dog at dusk",
         "source": "s", "ingested_at": "2024-01-01T00:00:00"},
        {"doc_id": 101, "text": "novel words only in this one",
         "source": "s", "ingested_at": "2024-01-01T00:01:00"},
    ]
    (landing / "b0.json").write_text(
        "\n".join(_json.dumps(r) for r in rows))
    stream = doc_stream.read_doc_stream(spark, str(landing))
    q = doc_stream.start_near_dup_flagging(
        stream, index, str(tmp_path / "flags"), str(tmp_path / "ckpt"),
        threshold=0.5)
    q.awaitTermination(120)
    flagged = spark.read.parquet(str(tmp_path / "flags")).collect()
    assert [(r["doc_id"], r["corpus_doc"]) for r in flagged] == [(100, 1)]

    # a second drop with another near-dup is picked up incrementally
    (landing / "b1.json").write_text(_json.dumps(
        {"doc_id": 102,
         "text": "a quick brown fox jumps over the lazy dog at dawn",
         "source": "s", "ingested_at": "2024-01-01T00:05:00"}))
    q2 = doc_stream.start_near_dup_flagging(
        stream, index, str(tmp_path / "flags"), str(tmp_path / "ckpt"),
        threshold=0.5)
    q2.awaitTermination(120)
    flagged = spark.read.parquet(str(tmp_path / "flags")).collect()
    assert sorted((r["doc_id"], r["corpus_doc"]) for r in flagged) \
        == [(100, 1), (102, 1)]


def test_duplicated_spans_planted_copy(spark):
    """A 20-token paragraph copied across two docs is flagged in both;
    a doc with unique text has zero duplicated spans."""
    from corkscrew_spark.operators import dedup as dd

    para = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, para + " unique tail one two three four five"),
            (2, "prefix words here " + para),
            (3, " ".join(f"z{i}" for i in range(25))),
        ],
        "doc_id long, text string",
    )
    got = {r.id: (r.n_spans, r.n_dup_spans)
           for r in dd.duplicated_spans(docs, "doc_id", "text", n=20).collect()}
    # doc1: 27 tokens -> 8 spans, the first (exact para) is shared
    assert got[1][1] >= 1 and got[1][1] < got[1][0]
    assert got[2][1] >= 1
    assert got[3] == (6, 0)


def test_embedding_pair_budget_shared_across_variants(spark):
    """r9 verdict nit 4: the SAME pair budget governs BOTH pair-scan
    implementations — the expression variant refused at 10⁸ pairs
    while the GEMM row bound admitted ~4.5×10⁸-pair blocks, so the
    same corpus was refused or admitted depending on impl choice.
    Both must refuse the same over-budget block with the same remedy,
    and both must pass the same in-budget corpus."""
    rows = [(i, [float(i % 7), 1.0, 0.0], "only") for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    # 40 rows in one block = 780 pairs > budget 100 → BOTH refuse
    for fn in (dedup.embedding_near_dup, dedup.embedding_near_dup_gemm):
        with pytest.raises(Exception) as ei:
            fn(df, "vec_id", "embedding", "label", 0.95,
               max_block_pairs=100).collect()
        msg = str(ei.value)
        assert "semdedup_keep" in msg and "780" in msg, fn.__name__
    # both admit under a sufficient budget, with identical pair sets
    expr = {(r["id_a"], r["id_b"]) for r in dedup.embedding_near_dup(
        df, "vec_id", "embedding", "label", 0.95,
        max_block_pairs=1000).collect()}
    gemm = {(r["id_a"], r["id_b"]) for r in dedup.embedding_near_dup_gemm(
        df, "vec_id", "embedding", "label", 0.95,
        max_block_pairs=1000).collect()}
    assert expr == gemm and expr
    # env default reaches the GEMM closure too
    import os
    old = os.environ.get("CORKSCREW_EMB_BLOCK_PAIR_BUDGET")
    os.environ["CORKSCREW_EMB_BLOCK_PAIR_BUDGET"] = "100"
    try:
        with pytest.raises(Exception):
            dedup.embedding_near_dup_gemm(
                df, "vec_id", "embedding", "label", 0.95).collect()
    finally:
        if old is None:
            del os.environ["CORKSCREW_EMB_BLOCK_PAIR_BUDGET"]
        else:
            os.environ["CORKSCREW_EMB_BLOCK_PAIR_BUDGET"] = old
