"""Vectorized scoring: JW UDF vs pure fn, native jaccard/levenshtein."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spikex_spark.operators import scoring as S
from spikex_spark.textutils import jaro_winkler, token_jaccard


def test_jw_udf_matches_pure_function(spark):
    pairs = [("apple company", "apple company"), ("apple inc", "apple (fruit)"),
             ("martha", "marhta"), ("", ""), ("a", "b"),
             ("new york city", "new york")]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = df.select("a", "b", S.jaro_winkler_udf("a", "b").alias("jw")).collect()
    for r in got:
        assert r["jw"] == pytest.approx(jaro_winkler(r["a"], r["b"]), abs=1e-12)


def test_token_jaccard_native_matches_pure(spark):
    pairs = [("a b c", "b c d"), ("", ""), ("x", ""), ("Apple, Inc!", "apple inc")]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = df.select("a", "b", S.token_jaccard(F.col("a"), F.col("b")).alias("j")).collect()
    for r in got:
        assert r["j"] == pytest.approx(token_jaccard(r["a"], r["b"]), abs=1e-12)


def test_score_pairs_and_edges(spark):
    pairs = spark.createDataFrame(
        [("u1", "u2", "k", "Apple (company)", "apple (company)"),
         ("u1", "u3", "k", "Apple (company)", "apple (fruit)")],
        ["id_a", "id_b", "block_key", "surface_a", "surface_b"],
    )
    scored = S.score_pairs(pairs)
    rows = {(r["id_a"], r["id_b"]): r["score"] for r in scored.collect()}
    assert rows[("u1", "u2")] == 1.0
    assert rows[("u1", "u3")] < 0.75


def test_jw_fast_matches_plain_udf(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from spikex_spark.operators.scoring import (_norm, jaro_winkler_udf,
                                                jw_fast)

    rows = [("Apple Inc", "apple inc"), ("Apple Inc", "Apple Incorporated"),
            ("", ""), ("x", ""), ("same", "same"), ("", "y"),
            (None, "y"), (None, None), ("z", None)]
    schema = T.StructType([T.StructField("a", T.StringType()),
                           T.StructField("b", T.StringType())])
    df = spark.createDataFrame(rows, schema)
    na, nb = _norm(F.col("a")), _norm(F.col("b"))
    fast = {(r["a"], r["b"]): r["jw"]
            for r in df.withColumn("jw", jw_fast(na, nb)).collect()}
    plain = {(r["a"], r["b"]): r["jw"]
             for r in df.withColumn("jw", jaro_winkler_udf(na, nb)).collect()}
    assert fast == plain


# --------------------------------------------------------------------------
# scoring.monge_elkan
# --------------------------------------------------------------------------

def test_monge_elkan_token_reorder_robust(spark):
    from spikex_spark.operators.scoring import monge_elkan
    from spikex_spark.textutils import jaro_winkler as jw
    pairs = spark.createDataFrame(
        [(1, 2, ["united", "bank", "london"], ["london", "united", "bank"]),
         (3, 4, ["alpha"], ["alphq"]),
         (5, 6, [], ["x"])],
        "id_a long, id_b long, toks_a array<string>, toks_b array<string>")
    rows = {(r["id_a"], r["id_b"]): r for r in monge_elkan(pairs).collect()}
    # identical token sets in different order -> perfect score
    assert rows[(1, 2)]["me_ab"] == 1.0
    assert rows[(1, 2)]["me_ba"] == 1.0
    assert rows[(1, 2)]["me_sym"] == 1.0
    # single-token pair reduces to plain JW (snapped to micro-units)
    expect = round(round(jw("alpha", "alphq") * 1e6) / 1e6, 6)
    assert rows[(3, 4)]["me_ab"] == expect
    # empty side -> undefined
    assert rows[(5, 6)]["me_sym"] is None


def test_monge_elkan_hand_computed_asymmetry(spark):
    from spikex_spark.operators.scoring import monge_elkan
    from spikex_spark.textutils import jaro_winkler as jw
    a, b = ["smith", "john"], ["smith"]
    pairs = spark.createDataFrame(
        [(1, 2, a, b)],
        "id_a long, id_b long, toks_a array<string>, toks_b array<string>")
    r = monge_elkan(pairs).collect()[0]
    sa = sum(round(max(jw(x, y) for y in b) * 1e6) for x in a)
    sb = sum(round(max(jw(x, y) for y in a) * 1e6) for x in b)
    assert r["me_ab"] == round(sa / (len(a) * 1e6), 6)
    assert r["me_ba"] == round(sb / (len(b) * 1e6), 6)
    assert r["me_ab"] < r["me_ba"]        # the unmatched 'john' drags ab


# --------------------------------------------------------------------------
# scoring.soft_tfidf
# --------------------------------------------------------------------------

def _soft_pairs(spark, rows):
    from spikex_spark.operators.scoring import tfidf_token_arrays
    from pyspark.sql import functions as F
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    arrs = tfidf_token_arrays(docs)
    pairs = spark.createDataFrame([(rows[0][0], rows[1][0])],
                                  "id_a long, id_b long")
    return (pairs
            .join(arrs.withColumnsRenamed(
                {"id": "id_a", "toks": "toks_a", "ws": "w_a"}), "id_a")
            .join(arrs.withColumnsRenamed(
                {"id": "id_b", "toks": "toks_b", "ws": "w_b"}), "id_b"))


def test_soft_tfidf_identical_docs_score_one(spark):
    from spikex_spark.operators.scoring import soft_tfidf
    p = _soft_pairs(spark, [(1, "alpha beta gamma"),
                            (2, "alpha beta gamma"),
                            (3, "something else entirely")])
    r = soft_tfidf(p).collect()[0]
    # identical token sets: every term matches itself at jw=1, the
    # weighted sum collapses to the L2 norm product -> 1.0 (up to the
    # nano-unit snap)
    assert abs(r["soft_ab"] - 1.0) < 1e-6
    assert abs(r["soft_sym"] - 1.0) < 1e-6


def test_soft_tfidf_typo_token_still_matches(spark):
    from spikex_spark.operators.scoring import soft_tfidf
    p = _soft_pairs(spark, [(1, "john smith portland"),
                            (2, "jonh smith portland"),
                            (3, "unrelated filler words")])
    r = soft_tfidf(p, theta=0.9).collect()[0]
    # 'jonh' has no exact partner (tf-idf cosine scores it 0) but JW
    # aligns it with 'john' above 0.9 -> near-perfect soft score
    assert r["soft_sym"] > 0.95
    strict = soft_tfidf(p, theta=0.999).collect()[0]
    assert strict["soft_sym"] < r["soft_sym"]


# --------------------------------------------------------------------------
# pprl: CLK encoding + Bloom-bit Dice
# --------------------------------------------------------------------------

def test_clk_dice_on_encodings_only(spark):
    from spikex_spark.operators.pprl import clk_dice, clk_encode
    docs = spark.createDataFrame(
        [(1, "John Smith"), (2, "Jon Smith"), (3, "zzz qqq vvv"),
         (4, "x")],                       # too short after norm -> dropped
        "doc_id long, text string")
    clks = clk_encode(docs, m=256, k=2)
    got = {r["id"]: r for r in clks.collect()}
    assert 4 not in got                       # sub-q strings unencodable
    assert all(r["clk"] == sorted(set(r["clk"])) for r in got.values())
    assert all(p < 256 for r in got.values() for p in r["clk"])
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    sel = clks.select("id", "clk")
    p = (pairs
         .join(sel.withColumnsRenamed({"id": "id_a", "clk": "clk_a"}),
               "id_a")
         .join(sel.withColumnsRenamed({"id": "id_b", "clk": "clk_b"}),
               "id_b"))
    d = {(r["id_a"], r["id_b"]): r["dice"] for r in clk_dice(p).collect()}
    # near-identical names share most bigram bits; unrelated text shares
    # almost none — linkage works without ever comparing cleartext
    assert d[(1, 2)] > 0.7
    assert d[(1, 3)] < 0.3


def test_clk_identical_texts_dice_one(spark):
    from spikex_spark.operators.pprl import clk_dice, clk_encode
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "ALPHA  beta!")],   # same normalization
        "doc_id long, text string")
    clks = clk_encode(docs).select("id", "clk")
    p = (spark.createDataFrame([(1, 2)], "id_a long, id_b long")
         .join(clks.withColumnsRenamed({"id": "id_a", "clk": "clk_a"}),
               "id_a")
         .join(clks.withColumnsRenamed({"id": "id_b", "clk": "clk_b"}),
               "id_b"))
    assert clk_dice(p).collect()[0]["dice"] == 1.0
