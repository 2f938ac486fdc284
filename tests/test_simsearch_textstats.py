"""Similarity search (brute force + LSH) and text-analysis operators."""

from __future__ import annotations

import math

import pytest

from spikex_spark.operators import simsearch as SS
from spikex_spark.operators import textstats as TS


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [0.0, 0.95, 0.05, 0.0]),  # close to 2
        (4, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()


def test_cosine_topk_bruteforce(spark, vectors):
    q = vectors.where("vec_id = 0")
    got = [(r["neighbor_id"], r["rank"]) for r in
           SS.cosine_topk(vectors, q, k=2).orderBy("rank").collect()]
    assert got[0][0] == 1               # nearest is vec 1
    assert len(got) == 2
    # verify the cosine value itself
    row = SS.cosine_topk(vectors, q, k=1, round_digits=6).collect()[0]
    expected = 0.9 / (1.0 * math.sqrt(0.9**2 + 0.1**2))
    assert row["cos"] == pytest.approx(expected, abs=1e-6)


def test_lsh_recall_against_bruteforce(spark, vectors):
    q = vectors.where("vec_id < 2")
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          SS.cosine_topk(vectors, q, k=1).collect()}
    ann = {(r["query_id"], r["neighbor_id"]) for r in
           SS.lsh_cosine_topk(vectors, q, dim=4, k=1, bits=8, bands=4).collect()}
    # top-1 must survive LSH at this density
    assert bf <= ann or bf == ann


def test_language_id(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog is in the house"),
         (2, "der Hund und die Katze ist nicht ein Tier"),
         (3, "xyzzy qwerty"),
         (4, "il gatto che non dorme sono una bestia per la casa"),
         (5, "de hond en de kat zijn niet met een dier voor het huis"),
         (6, "bu bir kedi ve daha sonra kadar gibi bir sey ile")],
        ["doc_id", "text"],
    )
    got = {r["id"]: r["lang_guess"] for r in
           TS.language_id(docs, "doc_id", "text").collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "und"
    assert got[4] == "it" and got[5] == "nl" and got[6] == "tr"


def test_quality_score_shape(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox is in the garden with all of the others and that is fine for everyone involved today"),
         (2, "!!! ??? ***"),
         (3, "")],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in TS.quality_score(docs, "doc_id", "text").collect()}
    assert got[1]["quality"] > got[2]["quality"]
    assert got[2]["punct_ratio"] > 0.5
    assert got[3]["n_tokens"] == 0 and got[3]["quality"] is not None


def test_token_counts(spark):
    docs = spark.createDataFrame([(1, "hello world, abcdefgh!")], ["doc_id", "text"])
    r = TS.token_counts(docs, "doc_id", "text").collect()[0]
    assert r["ws_tokens"] == 3
    # subwords: hello(2) world(2) abcdefgh(2) + ',' + '!' = 8
    assert r["subword_est"] == 8


def test_fingerprint_normalization_invariance(spark):
    docs = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "HELLO world?"),
         (4, "different words")],
        ["doc_id", "text"],
    )
    got = {r["id"]: r["fp"] for r in TS.fingerprint(docs, "doc_id", "text").collect()}
    assert got[1] == got[2] == got[3]
    assert got[4] != got[1]


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF-flat probing (nprobe=2 of nlist=8) must recover most of the
    brute-force top-k; with nprobe=nlist it must match it exactly."""
    from pyspark.sql import functions as F

    from spikex_spark.operators.simsearch import cosine_topk, ivf_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, q, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ivf_cosine_topk(emb, q, k=5, nlist=8, nprobe=2).collect()}
    assert len(ivf & exact) / len(exact) >= 0.5   # bounded-probe recall
    # probing every list == exhaustive search
    full = {(r["query_id"], r["neighbor_id"])
            for r in ivf_cosine_topk(emb, q, k=5, nlist=8, nprobe=8).collect()}
    assert full == exact


def test_ivf_trained_centroids_beat_first_nlist_recall(spark):
    """k-means-trained IVF centroids (train_ivf_centroids) must beat the
    first-nlist seed baseline on planted clusters: seeds are extra-noisy
    members of each cluster, Lloyd refinement denoises them toward the
    cluster means, and recall@5 vs exact cosine_topk rises. More
    iterations must not hurt."""
    import numpy as np
    from pyspark.sql import functions as F

    from spikex_spark.operators.simsearch import (
        cosine_topk,
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(42)
    dim, ncl, per = 16, 4, 30
    rows, vid = [], 0
    # ids 0..3: one EXTRA-noisy member per cluster — deliberately bad seeds
    for c in range(ncl):
        v = np.zeros(dim)
        v[c * 3] = 1.0
        rows.append((vid, (v + 0.9 * rng.standard_normal(dim))
                     .astype(np.float32).tolist()))
        vid += 1
    for c in range(ncl):
        base = np.zeros(dim)
        base[c * 3] = 1.0
        for _ in range(per):
            rows.append((vid, (base + 0.45 * rng.standard_normal(dim))
                         .astype(np.float32).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")).cache()
    df.count()
    queries = df.where(F.col("vec_id") % 9 == 4)

    gt: dict = {}
    for r in cosine_topk(df, queries, k=5).collect():
        gt.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(res) -> float:
        got: dict = {}
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return float(np.mean([len(got.get(q, set()) & n) / len(n)
                              for q, n in gt.items()]))

    base = recall(ivf_cosine_topk(df, queries, k=5, nlist=4, nprobe=1))
    c1 = train_ivf_centroids(df, nlist=4, iters=1)
    r1 = recall(ivf_cosine_topk(df, queries, k=5, nlist=4, nprobe=1,
                                centroids=c1))
    c3 = train_ivf_centroids(df, nlist=4, iters=3)
    r3 = recall(ivf_cosine_topk(df, queries, k=5, nlist=4, nprobe=1,
                                centroids=c3))
    assert r1 > base + 0.05, (base, r1)
    assert r3 >= r1, (r1, r3)
    # training is deterministic: same inputs -> identical centroids
    assert c1 == train_ivf_centroids(df, nlist=4, iters=1)


def test_kmeans_parallel_init_rescues_degenerate_seeds(spark):
    """When the first nlist ids all live in ONE planted cluster (the
    degenerate case for first-nlist seeding), the k-means|| initializer
    must recover near-perfect recall where the seed baseline cannot."""
    import numpy as np
    from pyspark.sql import functions as F

    from spikex_spark.operators.simsearch import (
        cosine_topk,
        ivf_cosine_topk,
        kmeans_parallel_units,
    )

    rng = np.random.default_rng(7)
    dim, ncl, per = 16, 4, 30
    rows, vid = [], 0
    # ALL of ids 0..per-1 are cluster 0 -> first-4 seeds are degenerate
    for c in range(ncl):
        base = np.zeros(dim)
        base[c * 4] = 1.0
        for _ in range(per):
            rows.append((vid, (base + 0.25 * rng.standard_normal(dim))
                         .astype(np.float32).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")).cache()
    df.count()
    queries = df.where(F.col("vec_id") % 13 == 5)

    gt: dict = {}
    for r in cosine_topk(df, queries, k=5).collect():
        gt.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(res) -> float:
        got: dict = {}
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return float(np.mean([len(got.get(q, set()) & n) / len(n)
                              for q, n in gt.items()]))

    base = recall(ivf_cosine_topk(df, queries, k=5, nlist=4, nprobe=1))
    units = kmeans_parallel_units(df, nlist=4)
    kpp = recall(ivf_cosine_topk(df, queries, k=5, nlist=4, nprobe=1,
                                 centroids=units))
    assert kpp > base + 0.1, (base, kpp)
    assert kpp >= 0.9, kpp
    # deterministic
    assert units == kmeans_parallel_units(df, nlist=4)


def test_ivf_assign_incremental_matches_full_rebuild(spark, tmp_path):
    """Appending only NEW vectors' assignments to a ledgered IVF index at
    fixed centroids must equal reassigning the whole corpus, and the
    probed top-k over the incremental index must equal the index-free
    query. Second incremental call must resume from the ledger."""
    from pyspark.sql import functions as F

    from spikex_spark.lineage import (
        ivf_assign_incremental,
        ivf_assign_resumable,
        ledger_summary,
    )
    from spikex_spark.operators.simsearch import (
        first_nlist_units,
        ivf_assignments,
        ivf_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 4 != 0)
    new = emb.where(F.col("vec_id") % 4 == 0)
    units = first_nlist_units(old, 8)

    ivf_assign_resumable(spark, old, units, str(tmp_path / "old"),
                         fingerprint="v0")
    inc = ivf_assign_incremental(spark, new, units, str(tmp_path / "old"),
                                 str(tmp_path / "new"), fingerprint="v0")
    full = ivf_assignments(emb, units)
    assert sorted(map(tuple, inc.collect())) == \
        sorted(map(tuple, full.collect()))

    q = emb.where(F.col("vec_id") < 5)
    via_index = ivf_cosine_topk(emb, q, k=5, nprobe=2, centroids=units,
                                assignments=inc).collect()
    direct = ivf_cosine_topk(emb, q, k=5, nprobe=2,
                             centroids=units).collect()
    assert sorted(map(tuple, via_index)) == sorted(map(tuple, direct))

    # resume: the new ledger's 10_assign is COMPLETE and a rerun reuses it
    inc2 = ivf_assign_incremental(spark, new, units, str(tmp_path / "old"),
                                  str(tmp_path / "new"), fingerprint="v0")
    assert sorted(map(tuple, inc2.collect())) == \
        sorted(map(tuple, full.collect()))
    assert [s["stage"] for s in ledger_summary(str(tmp_path / "new"))] == \
        ["10_assign"]


def test_repetition_stats_known_values(spark):
    """Hand-computable documents: analytic dup/top-bigram fractions."""
    from spikex_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame([
        (1, "a b a b a"),        # words: 5, distinct 2; bigrams: ab ba ab ba
        (2, "x y z w"),          # all unique; bigrams xy yz zw all once
        (3, "q q q q"),          # 4 words 1 distinct; bigrams qq x3
        (4, "solo"),             # <2 words: dropped
        (5, ""),                 # split('') -> [''] -> 1 word: dropped
    ], "doc_id long, text string")
    out = {r["id"]: r for r in
           repetition_stats(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3}
    r1 = out[1]
    assert r1["n_words"] == 5
    assert r1["dup_word_frac"] == 0.6          # (5-2)/5
    assert r1["top_bigram_frac"] == 0.5        # 'a b' twice of 4
    assert r1["dup_bigram_frac"] == 1.0        # every bigram repeats
    r2 = out[2]
    assert r2["dup_word_frac"] == 0.0
    assert r2["top_bigram_frac"] == round(1 / 3, 6)
    assert r2["dup_bigram_frac"] == 0.0
    r3 = out[3]
    assert r3["dup_word_frac"] == 0.75
    assert r3["top_bigram_frac"] == 1.0
    assert r3["dup_bigram_frac"] == 1.0


def test_canonical_url_axes(spark):
    """Each normalization axis independently + pass-through for opaque
    strings; dedup keeps the smallest id per canonical form."""
    from spikex_spark.operators.urls import url_dedup

    urls = [
        (0, "https://Example.COM/Path?b=2&a=1"),
        (1, "https://www.example.com:443/Path?utm_source=x&a=1&b=2#f"),
        (2, "http://example.com:80"),
        (3, "not a url at all"),
        (4, "https://example.com/CaseKept/Path"),
        (5, "https://example.com/x?gclid=1&z=9&y=8"),
    ]
    df = spark.createDataFrame(urls, "url_id long, url string")
    rows = {r["url_id"]: r for r in
            url_dedup(df, "url", "url_id", keep_col="is_kept").collect()}
    assert rows[0]["canonical_url"] == "https://example.com/Path?a=1&b=2"
    assert rows[1]["canonical_url"] == "https://example.com/Path?a=1&b=2"
    assert rows[0]["is_kept"] and not rows[1]["is_kept"]
    assert rows[2]["canonical_url"] == "http://example.com/"
    assert rows[3]["canonical_url"] == "not a url at all"
    assert rows[4]["canonical_url"] == "https://example.com/CaseKept/Path"
    assert rows[5]["canonical_url"] == "https://example.com/x?y=8&z=9"

    # filtered form: only winners survive
    kept = url_dedup(df, "url", "url_id").count()
    assert kept == 5


def test_pii_scrub_classes_and_counts(spark):
    from spikex_spark.operators.textstats import pii_scrub

    docs = spark.createDataFrame([
        (1, "mail a.b+c@d-e.org, ip 10.0.0.1, call +44 (0)20 7946-0958 ok"),
        (2, "not-an-ip 1.2.3 and not-a-phone 12345"),
        (3, "two mails x@y.io z@w.dev"),
    ], "doc_id long, text string")
    out = {r["id"]: r for r in pii_scrub(docs, "doc_id", "text").collect()}
    assert out[1]["scrubbed"] == "mail <EMAIL>, ip <IP>, call <PHONE> ok"
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[2]["scrubbed"] == "not-an-ip 1.2.3 and not-a-phone 12345"
    assert out[3]["n_email"] == 2 and "<EMAIL> <EMAIL>" in out[3]["scrubbed"]


def test_stratified_sample_deterministic_quota(spark):
    from spikex_spark.operators.corpus import stratified_sample

    docs = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3]) for i in range(60)],
        "doc_id long, lang string")
    out = stratified_sample(docs, "lang", "doc_id", 4).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["key"], []).append((r["sample_rank"], r["id"]))
    assert set(by_key) == {"en", "de", "fr"}
    assert all(len(v) == 4 for v in by_key.values())
    # reproducible: same rows on a second run
    again = stratified_sample(docs, "lang", "doc_id", 4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # hash order, not id order: at least one stratum's sample is not the
    # first ids (astronomically unlikely otherwise)
    assert any(sorted(i for _, i in v)[0] > 2 for v in by_key.values())


def test_pack_sequences_two_phase_prefix(spark):
    """The distributed two-phase running sum equals the sequential scan at
    every partition count, and blocks cut exactly at block_tokens."""
    from spikex_spark.operators.corpus import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (3 + (i * 7) % 40))) for i in range(200)],
        "doc_id long, text string")
    expect_start, cur = {}, 0
    for i in range(200):
        expect_start[i] = cur
        cur += 3 + (i * 7) % 40
    for nr in (1, 5, 64):
        rows = pack_sequences(docs, "doc_id", "text",
                              block_tokens=128, num_ranges=nr).collect()
        assert len(rows) == 200
        for r in rows:
            assert r["start_token"] == expect_start[r["id"]], (nr, r)
            assert r["block_id"] == r["start_token"] // 128
            assert r["block_offset"] == r["start_token"] % 128


def test_canonical_url_idempotent_property(spark):
    """canonical(canonical(u)) == canonical(u) — canonical forms are fixed
    points, over generated gnarly URLs (hypothesis-style enumeration kept
    deterministic for CI)."""
    from pyspark.sql import functions as F

    from spikex_spark.operators.urls import canonicalize_urls

    schemes = ["http", "https", "HTTP", "ftp"]
    hosts = ["Example.COM", "www.example.com", "a.b.example.net:8080",
             "example.com:443", "example.com:80"]
    paths = ["", "/", "/A/b", "/x%20y"]
    qss = ["", "?", "?b=2&a=1", "?utm_source=x", "?a=1&&b=2#f", "#frag"]
    urls = [(i, f"{s}://{h}{p}{q}")
            for i, (s, h, p, q) in enumerate(
                (s, h, p, q) for s in schemes for h in hosts
                for p in paths for q in qss)]
    df = spark.createDataFrame(urls, "url_id long, url string")
    once = canonicalize_urls(df, "url").select(
        "url_id", F.col("canonical_url").alias("url"))
    twice = canonicalize_urls(once, "url")
    bad = twice.where(F.col("url") != F.col("canonical_url")).collect()
    assert not bad, bad[:5]


def test_pq_codes_shape_and_determinism(spark):
    """Codes are m ints in [0, ksub); two runs produce identical codes
    (no RNG anywhere in training or encoding)."""
    from pyspark.sql import functions as F

    from spikex_spark.operators.simsearch import pq_codes, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_train(emb, m=4, ksub=8, iters=1)
    assert cb.shape == (4, 8, 16)
    codes = {r["id"]: list(r["codes"]) for r in
             pq_codes(emb, cb, "vec_id", "embedding").collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c)
               for c in codes.values())
    cb2 = pq_train(emb, m=4, ksub=8, iters=1)
    assert (cb == cb2).all()
    codes2 = {r["id"]: list(r["codes"]) for r in
              pq_codes(emb, cb2, "vec_id", "embedding").collect()}
    assert codes == codes2


def test_pq_topk_recall_vs_brute_force(spark):
    """ADC over 4x8 codebooks with exact re-rank of 50 candidates must
    recover most of the brute-force top-5; with rerank = corpus size the
    scan is exhaustive and must match brute force exactly."""
    from pyspark.sql import functions as F

    from spikex_spark.operators.simsearch import cosine_topk, pq_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    q = emb.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, q, k=5).collect()}
    pq = {(r["query_id"], r["neighbor_id"])
          for r in pq_cosine_topk(emb, q, k=5, m=4, ksub=8,
                                  rerank=50).collect()}
    assert len(pq & exact) / len(exact) >= 0.6   # bounded-rerank recall
    full = {(r["query_id"], r["neighbor_id"])
            for r in pq_cosine_topk(emb, q, k=5, m=4, ksub=8,
                                    rerank=n).collect()}
    assert full == exact


def test_chunk_documents_shapes(spark):
    """Coverage, overlap, short-doc single chunk, empty-doc drop."""
    from spikex_spark.operators.corpus import chunk_documents

    docs = spark.createDataFrame([
        (1, " ".join(f"t{i}" for i in range(1, 101))),   # 100 tokens
        (2, "just five little tokens here"),             # 5 tokens
        (3, ""),                                         # empty
    ], "id long, text string")
    out = [r for r in chunk_documents(docs, "id", "text", chunk_tokens=64,
                                      stride=48).collect()]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [(r["start_token"], r["n_tokens"]) for r in c1] == [(1, 64),
                                                               (49, 52)]
    assert c1[0]["chunk_text"].split(" ")[0] == "t1"
    assert c1[1]["chunk_text"].split(" ")[0] == "t49"
    assert c1[1]["chunk_text"].split(" ")[-1] == "t100"
    # overlap region t49..t64 appears in both chunks
    assert "t64" in c1[0]["chunk_text"] and "t64" in c1[1]["chunk_text"]
    assert [(r["start_token"], r["n_tokens"], r["chunk_text"])
            for r in by_doc[2]] == [(1, 5, "just five little tokens here")]
    assert 3 not in by_doc


def test_topk_recall_counts_hits_per_query(spark):
    from spikex_spark.operators.evaluation import topk_recall
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)],
        "query_id long, neighbor_id long")
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21)],
        "query_id long, neighbor_id long")
    got = {r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
           for r in topk_recall(exact, approx).collect()}
    assert got == {1: (2, 1, 0.5), 2: (2, 2, 1.0)}


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe candidates are a superset of the single-probe
    bucket's, so recall vs the exact top-k can only improve."""
    from spikex_spark.operators.evaluation import topk_recall
    from spikex_spark.operators.simsearch import (cosine_topk,
                                                  lsh_cosine_topk,
                                                  lsh_multiprobe_topk)
    from pyspark.sql import functions as F
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5)
    single = topk_recall(exact, lsh_cosine_topk(emb, q, dim=64, k=5))
    multi = topk_recall(exact, lsh_multiprobe_topk(emb, q, dim=64, k=5))
    s = {r["query_id"]: r["n_hit"] for r in single.collect()}
    m = {r["query_id"]: r["n_hit"] for r in multi.collect()}
    assert set(s) == set(m)
    assert all(m[qid] >= s[qid] for qid in s)
    assert sum(m.values()) >= sum(s.values())


def test_gopher_rules_verdicts(spark):
    from spikex_spark.operators.textstats import gopher_rules
    good = " ".join(
        ["the quick brown fox jumps over that lazy dog again with"] * 6)
    rows = [
        (1, good),                                   # passes everything
        (2, "too short"),                            # word-count floor
        (3, " ".join(["the of and that have with be to"] * 8)
            + " " + "#" * 60),                       # symbol ratio + alpha ok
        (4, "\n".join(["- " + good] + ["- b c"] * 9)),  # 100% bullet lines
        (5, " ".join(["12345 67890"] * 40)
            + " the of"),                            # no alpha words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in
           gopher_rules(df, "doc_id", "text").collect()}
    assert out[1]["passed"]
    assert not out[2]["r_word_count"] and not out[2]["passed"]
    assert not out[3]["r_symbol_ratio"] and not out[3]["passed"]
    assert not out[4]["r_bullet_lines"] and not out[4]["passed"]
    assert not out[5]["r_alpha_words"] and not out[5]["passed"]
    # rule arithmetic is integer-exact: doc 1 has 66 words, all alpha
    assert out[1]["n_words"] == 66 and out[1]["n_alpha_words"] == 66
    assert out[1]["stop_hits"] >= 2


def test_gopher_rules_ellipsis_and_stops(spark):
    from spikex_spark.operators.textstats import gopher_rules
    base = "the of and words here keep going fine today right"
    many = " ".join([base] * 6)
    ell = "\n".join([many] + ["line one..." for _ in range(9)])
    df = spark.createDataFrame(
        [(1, ell), (2, " ".join(["zq xv wk"] * 20))],
        ["doc_id", "text"])
    out = {r["id"]: r for r in
           gopher_rules(df, "doc_id", "text").collect()}
    # 9 of 10 non-blank lines end with '...' -> fails the 30% cap
    assert not out[1]["r_ellipsis_lines"]
    # no Gopher stop words at all -> fails the >=2 distinct rule
    assert out[2]["stop_hits"] == 0 and not out[2]["r_stop_words"]


def test_tokenizer_fertility_ratios(spark):
    import __spark_entry__ as E
    rows = E.queries()["tokenizer_fertility"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["ws_tokens"] > 0 and r["subword_est"] > 0
        assert abs(r["chars_per_ws_token"]
                   - round(r["chars"] / r["ws_tokens"], 4)) < 1e-9
        # the chars/4 heuristic means >= ~1 subword per ws token
        assert r["subwords_per_ws_token"] >= 1.0


def test_language_id_escapes_stopword_literals(spark, monkeypatch):
    """Stopwords with an apostrophe or a backslash (French/Italian lists
    carry elisions like qu') are emitted as escaped SQL literals: the
    query parses, and a word that holds no quote still scores."""
    monkeypatch.setitem(TS.STOPWORDS, "fr", ["qu'il", "l'", "c\\est", "le",
                                             "la", "et", "les", "des"])
    docs = spark.createDataFrame(
        [(1, "le chat et la souris les des"), (2, "the cat and the dog")],
        ["doc_id", "text"])
    got = {r["id"]: r["lang_guess"] for r in
           TS.language_id(docs, "doc_id", "text").collect()}
    assert got == {1: "fr", 2: "en"}
