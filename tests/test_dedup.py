"""Dedup tier: exact, n-gram Jaccard (banded blocking), MinHash+LSH, SimHash.

Includes the promised cross-validation: minhash candidates cover the exact
ngram-Jaccard ground truth on planted near-duplicates.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs, word_shingles,
)

BASE = ("the quick brown fox jumps over the lazy dog near the old river bank "
        "while birds sing in the tall green trees above the quiet meadow")


@pytest.fixture(scope="module")
def neardup_docs(spark):
    """Planted near-duplicates: 0↔1 differ by one word, 2 is a shuffled copy
    of 0, 10..19 are unrelated texts."""
    rows = [
        (0, BASE, "en"),
        (1, BASE.replace("quick", "swift"), "en"),
        (2, BASE.replace("near the old", "close to the old"), "en"),
    ] + [
        (10 + i, f"completely different document number {i} with words nobody reuses "
                 f"plus unique token zz{i}x repeated zz{i}x again zz{i}x", "en")
        for i in range(10)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_groups_identical_content(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    got = {r["keep_id"]: r["dup_cnt"] for r in exact_dedup(df, "doc_id", "text").collect()}
    assert got == {1: 2, 3: 1}  # whitespace+case-normalized match


def test_ngram_jaccard_finds_planted_pairs(neardup_docs):
    pairs = ngram_jaccard_pairs(neardup_docs, "doc_id", "text", "lang", n=2, threshold=0.5)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 2) in got
    assert all(a < 10 and b < 10 for a, b in got)  # no false positives among planted uniques


def test_ngram_banding_complete_across_band_boundary(spark):
    """Docs whose shingle counts land in adjacent length bands must still pair."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " iota"  # superset: high jaccard, larger shingle set
    df = spark.createDataFrame([(1, short, "x"), (2, long, "x")], "doc_id long, text string, lang string")
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", "lang", n=2, threshold=0.7)
    assert {(r["a_id"], r["b_id"]) for r in pairs.collect()} == {(1, 2)}


def test_minhash_covers_ngram_ground_truth(neardup_docs):
    """Promised cross-check: every exact-Jaccard pair is recalled by the
    MinHash+LSH pipeline (threshold below the planted pairs' similarity)."""
    truth = {
        (r["a_id"], r["b_id"])
        for r in ngram_jaccard_pairs(neardup_docs, "doc_id", "text", "lang", n=3, threshold=0.5).collect()
    }
    assert truth  # planted pairs exist at trigram level
    got = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_pairs(neardup_docs, "doc_id", "text",
                                   shingle_n=3, num_perm=32, bands=8, threshold=0.5).collect()
    }
    assert truth <= got


def test_minhash_jaccard_estimates_match_exact(neardup_docs):
    """The verified jac column IS exact jaccard (verify stage recomputes)."""
    pairs = minhash_lsh_pairs(neardup_docs, "doc_id", "text", threshold=0.5).collect()
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in neardup_docs.select("doc_id", word_shingles("text", 3).alias("sh")).collect()
    }
    for r in pairs:
        a, b = sh[r["a_id"]], sh[r["b_id"]]
        exact = len(a & b) / len(a | b)
        assert abs(r["jac"] - exact) < 1e-6


def test_simhash_finds_near_identical(spark):
    """SimHash's contract is LONG near-identical docs (a single-token edit in
    a ~120-token doc flips 1-2 signature bits; a one-word-in-24 edit flips ~9
    and is out of banding's hamming<=3 pigeonhole — minhash covers that
    regime). Unrelated docs sit at hamming ~30 and must not pair."""
    long_base = (BASE + " ") * 5
    rows = [
        (0, long_base + "one"),
        (1, long_base + "two"),
        (2, long_base + "one extra"),
        (10, "totally unrelated words about ships and harbors and salt water twelve times over"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a_id"], r["b_id"]) for r in
           simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= got
    assert not any(10 in p for p in got)


def test_minhash_on_real_documents_no_crash(spark, sf_dir):
    """ANSI-mode overflow regression (operators/dedup.py hash family)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    assert all(0.0 <= r["jac"] <= 1.0 for r in pairs)


def test_incremental_lsh_reads_index_not_corpus(spark):
    """The incremental path must PROBE the staged index (a parquet scan of
    the lshindex dir), never re-derive existing-corpus band rows from
    documents — the per-increment-cost property. Also: its verified pairs
    restricted to the increment equal the one-shot finder's pairs
    similarly restricted (same thresholds), so increments lose nothing."""
    from quatrain_mapreduce_spark.operators.dedup import minhash_lsh_pairs, verify_pairs
    from quatrain_mapreduce_spark.catalog import load_table
    from quatrain_mapreduce_spark.plans.data_pipeline import dedup_incremental_lsh

    sf = "/root/testdata/sf0.001"
    out = dedup_incremental_lsh(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "lshindex" in plan, "index must be a parquet scan in the plan"

    inc = {(r["a_id"], r["b_id"]) for r in out.collect()}
    docs = load_table(spark, sf, "documents")
    full_cand = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=3, num_perm=32, bands=8, threshold=0.5
    ).select("a_id", "b_id")
    full = verify_pairs(docs, full_cand, "doc_id", "text", n=2, threshold=0.8, block_col="lang")
    want = {
        (r["a_id"], r["b_id"]) for r in full.collect()
        if r["a_id"] % 5 == 0 or r["b_id"] % 5 == 0
    }
    assert inc == want


def test_jaccard_prefix_exact_boundary_and_planted(spark):
    from quatrain_mapreduce_spark.operators.dedup import jaccard_prefix_pairs

    # doc1/doc2: 5 bigrams each ("a b","b c","c d","d e","e f" vs 4 shared
    # + "e zz") -> inter=4, union=6, J=2/3 < 0.8: excluded.
    # doc3/doc4 identical -> J=1: included.
    # doc5/doc6: 9 bigrams, 8 shared -> J=8/10=0.8 exactly: INCLUSIVE keep.
    w10 = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    w10_mut = "t0 t1 t2 t3 t4 t5 t6 t7 t8 zz"  # last bigram differs
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e zz"),
         (3, "x y z w v"), (4, "x y z w v"),
         (5, w10), (6, w10_mut)],
        "doc_id long, text string",
    )
    out = {(r["a_id"], r["b_id"]): r["jac"]
           for r in jaccard_prefix_pairs(docs, "doc_id", "text").collect()}
    assert (3, 4) in out and out[(3, 4)] == 1.0
    assert (5, 6) in out and abs(out[(5, 6)] - 0.8) < 1e-12
    assert (1, 2) not in out


def test_substring_windows_planted_span(spark):
    from quatrain_mapreduce_spark.operators.dedup import substring_window_report

    # w=3. doc1/doc2 share the verbatim 4-token span "a b c d" -> both its
    # 3-windows ("a b c" at pos, "b c d" at pos+1) are cross-doc duplicated.
    # doc3 repeats a window INTERNALLY only ("k l m" twice) -> intra-doc
    # repetition must NOT flag (cross-doc witness is min(doc)!=max(doc)).
    # doc4 is too short for any window -> n_windows=0, never dup_heavy.
    docs = spark.createDataFrame(
        [(1, "a b c d x y z"),          # windows at pos 0..4; dup at 0,1
         (2, "q q a b c d"),            # windows at pos 0..3; dup at 2,3
         (3, "k l m k l m"),            # "k l m" twice, same doc only
         (4, "u v")],                   # 2 tokens < w
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            substring_window_report(docs, "doc_id", "text", w=3).collect()}
    assert rows[1]["n_windows"] == 5 and rows[1]["dup_windows"] == 2
    assert rows[1]["dup_pos_sum"] == 0 + 1
    assert rows[2]["dup_windows"] == 2 and rows[2]["dup_pos_sum"] == 2 + 3
    assert rows[2]["dup_heavy"]          # 2/4 = 50% >= 20%
    assert rows[1]["dup_heavy"]          # 2/5 = 40% >= 20%
    assert rows[3]["dup_windows"] == 0 and not rows[3]["dup_heavy"]
    assert rows[4]["n_windows"] == 0 and not rows[4]["dup_heavy"]


def test_dup_span_extract_merges_adjacent_windows(spark):
    from quatrain_mapreduce_spark.operators.dedup import dup_span_extract

    # w=3, shared 5-token span "a b c d e" -> dup windows at 3 consecutive
    # starts -> ONE island spanning tokens [start, start+4]; doc2 also
    # shares a DISJOINT 3-token span "x y z" later -> a second island.
    docs = spark.createDataFrame(
        [(1, "a b c d e q r s x y z"),
         (2, "u v a b c d e w x y z"),
         (3, "m n o p q")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"],
         r["n_dup_windows"])
        for r in dup_span_extract(docs, "doc_id", "text", w=3).collect()
    )
    # doc1: "a b c d e" at 0..4 (windows 0,1,2), "x y z" at 8..10 (window 8)
    # doc2: same spans at 2..6 (windows 2,3,4) and 8..10 (window 8)
    assert rows == [
        (1, 0, 4, 5, 3), (1, 8, 10, 3, 1),
        (2, 2, 6, 5, 3), (2, 8, 10, 3, 1),
    ]


def test_substring_incremental_probes_index_not_corpus(spark):
    """The incremental span path must PROBE the staged fingerprint index (a
    parquet scan of the spanindex dir), never re-derive standing-corpus
    windows from documents — the per-increment-cost property."""
    from quatrain_mapreduce_spark.plans.data_pipeline import (
        dedup_substring_incremental,
    )

    out = dedup_substring_incremental(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "spanindex" in plan, "index must be a parquet scan in the plan"
    rows = out.collect()
    assert rows and all(r["hit_windows"] <= r["n_windows"] for r in rows)


def test_jaccard_threshold_one_finds_exact_duplicates(spark):
    """threshold=1.0 used to divide by log(1/t)=0 in the length band and
    return nothing; J=1 forces equal sizes, so exact-size banding is the
    complete band (review finding)."""
    from quatrain_mapreduce_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e", "en"), (2, "a b c d e", "en"), (3, "a b c x y", "en")],
        "doc_id long, text string, lang string",
    )
    got = {(r["a_id"], r["b_id"]) for r in
           ngram_jaccard_pairs(docs, "doc_id", "text", "lang",
                               threshold=1.0).collect()}
    assert got == {(1, 2)}


def test_incremental_lsh_reingested_doc_no_self_pair(spark):
    """A doc present in BOTH the staged index and the increment must not
    pair with itself (the cross probe lacked an id guard — review
    finding)."""
    from quatrain_mapreduce_spark.operators.dedup import (
        incremental_lsh_candidates, lsh_band_rows, word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    sh = docs.select("doc_id", word_shingles("text", 3).alias("sh"))
    bands = lsh_band_rows(sh, "doc_id", num_perm=32, bands=8, max_bucket=100)
    cand = incremental_lsh_candidates(bands, bands, "doc_id").collect()
    assert cand == []


@pytest.mark.parametrize("threshold", [0.0, -0.5, 1.5, float("nan")])
def test_ngram_jaccard_rejects_threshold_outside_unit_interval(spark, threshold):
    """Overlap counting emits only pairs sharing a shingle, which is
    complete only for t > 0; t = 0 used to die in math.log(1/t) with a
    ZeroDivisionError and t < 0 with a math domain error."""
    docs = spark.createDataFrame([(1, "a b c", "en")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="threshold"):
        ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=threshold)
