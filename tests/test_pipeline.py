"""End-to-end ER pipeline: the pairwise-F1 ≥ 0.99 gate on gold pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from spikex_spark import synth
from spikex_spark.pipeline import resolve_entities, scored_pairs


def test_pairwise_f1_on_gold(spark, pages_df, titles_df):
    gold = spark.createDataFrame(synth.gen_labeled_pairs(120))
    sp = scored_pairs(pages_df, titles_df).selectExpr(
        "id_a as url_a", "id_b as url_b", "is_match as pred"
    )
    j = gold.join(sp, ["url_a", "url_b"], "left").select(
        "is_match", F.coalesce("pred", F.lit(False)).alias("pred")
    )
    agg = j.agg(
        F.sum(F.when(F.col("is_match") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_match") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_match") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    precision = agg.tp / (agg.tp + agg.fp) if agg.tp + agg.fp else 1.0
    recall = agg.tp / (agg.tp + agg.fn) if agg.tp + agg.fn else 1.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (precision, recall, f1)


def test_clusters_respect_gold_transitivity(spark, pages_df, titles_df):
    res = resolve_entities(pages_df, titles_df).collect()
    cluster_of = {r["url"]: r["cluster_id"] for r in res}
    for pair in synth.gen_labeled_pairs(120):
        same = cluster_of[pair["url_a"]] == cluster_of[pair["url_b"]]
        assert same == pair["is_match"], pair


def test_every_page_assigned(spark, pages_df, titles_df):
    res = resolve_entities(pages_df, titles_df)
    assert res.count() == pages_df.count()
    assert res.where(F.col("cluster_id").isNull()).count() == 0


def _pairwise_clusters(pages_df, titles_df, cfg) -> set:
    """Oracle: clusters over the FULL per-block pair enumeration — every
    matching pair of ``scored_pairs`` is an edge, CC runs over every page
    id. Star contraction must give the same components."""
    from spikex_spark.operators import cc as CC

    edges = (scored_pairs(pages_df, titles_df, cfg).where("is_match")
             .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    ids = pages_df.select(F.col("url").alias("id"))
    return {(r["id"], r["cluster_id"])
            for r in CC.cluster_assignments(edges, ids).collect()}


def test_star_collapse_matches_pairwise_clusters(spark, pages_df, titles_df):
    from spikex_spark.pipeline import ERConfig

    star = resolve_entities(pages_df, titles_df, ERConfig()).collect()
    # identical assignments, not just identical partitions: both label a
    # cluster by its min member id
    assert ({(r["url"], r["cluster_id"]) for r in star}
            == _pairwise_clusters(pages_df, titles_df, ERConfig()))


def test_star_collapse_under_low_salt_cap(spark, pages_df, titles_df):
    from spikex_spark.pipeline import ERConfig

    cfg = ERConfig(block_cap=3, nsalt=4)
    star = resolve_entities(pages_df, titles_df, cfg).collect()
    assert ({(r["url"], r["cluster_id"]) for r in star}
            == _pairwise_clusters(pages_df, titles_df, cfg))


def test_large_dict_fallback_uses_shuffle_join(spark, pages_df, titles_df,
                                               monkeypatch):
    """When the dictionary exceeds broadcast_keys_max, _mentions must take
    the n-gram JOIN path with broadcast_keys=False — the forced-broadcast
    hint would override AQE's size check on exactly the table that is too
    big to broadcast (the round-2 advice finding). Both branches give the
    same block members."""
    from spikex_spark.operators import blocking as B
    from spikex_spark.pipeline import MEMBER_COLUMNS, ERConfig, _mentions

    captured = []
    real = B.mentions

    def spy(*args, **kwargs):
        captured.append(kwargs)
        return real(*args, **kwargs)

    monkeypatch.setattr(B, "mentions", spy)
    pages = pages_df.select("url", "text")
    cfg = ERConfig(broadcast_keys_max=0)   # force the fallback branch
    out = _mentions(pages, titles_df, cfg, "url", "text")
    assert [c.get("broadcast_keys") for c in captured] == [False]
    # and the fallback's members match the broadcast scan's, row for row
    captured.clear()
    fused = _mentions(pages, titles_df, ERConfig(), "url", "text")
    assert captured == []
    assert out.columns == fused.columns == MEMBER_COLUMNS
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(out) == rows(fused) and rows(fused)
    # as many titles as the bound but more keys (a qualified title has a
    # full and a clean key): the join branch too
    two = spark.createDataFrame([("Apple_(company)",), ("Apple_(fruit)",)],
                                "title string")
    _mentions(pages, two, ERConfig(broadcast_keys_max=2), "url", "text")
    assert [c.get("broadcast_keys") for c in captured] == [False]


def test_hard_entity_variants_all_emitted_and_matched(spark, pages_df,
                                                      titles_df):
    """Every _HARD_ENTITIES variant must actually appear in the corpus —
    the group index steps by 9 and 9 % 3 == 0, so a naive i%len(variants)
    pins 3-variant groups to ONE variant forever (the transposed-qualifier
    POSITIVE 'Riverside_(seat_county)' was never emitted). And the planted
    must-match pair (token set identical, JW dips) has to be predicted
    a match."""
    texts = [r["text"] for r in pages_df.select("text").collect()]
    blob = " | ".join(texts)
    assert "riverside (county seat)" in blob.lower()
    assert "riverside (seat county)" in blob.lower()

    gold = synth.gen_labeled_pairs(120)
    hard_pos = [g for g in gold if g["is_hard"] and g["is_match"]
                and "riverside" in g["block_key"]]
    assert hard_pos, "gold lost the Riverside hard positives"
    sp = {(r["id_a"], r["id_b"]): r["is_match"]
          for r in scored_pairs(pages_df, titles_df).collect()}
    for g in hard_pos:
        assert sp.get((g["url_a"], g["url_b"])) is True, g
