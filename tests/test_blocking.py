"""Blocking: title keys, mentions (longest match), salting/capping, MinHash."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spikex_spark import synth
from spikex_spark.extract import extract_stage
from spikex_spark.operators import blocking as B
from spikex_spark.textutils import char_shingles, md5_hex


def test_title_keys_channels(spark, titles_df):
    keys = B.title_keys(titles_df).collect()
    by_title = {}
    for r in keys:
        by_title.setdefault(r["title"], {})[r["channel"]] = r["key"]
    assert by_title["Apple_(company)"]["clean"] == "apple"
    assert by_title["Apple_(company)"]["full"] == "apple company"
    assert by_title["New_York_City"]["clean"] == "new york city"
    assert by_title["New_York_City"]["full"] == "new york city"


def test_mentions_longest_match_wins(spark, titles_df):
    pages = spark.createDataFrame(
        [("u1", "I love Apple (company) products"),
         ("u2", "plain Apple here"),
         ("u3", "visited New York City today")],
        ["url", "text"],
    )
    ext = extract_stage(pages)
    keys = B.title_keys(titles_df)
    m = B.mentions(ext, keys, id_col="url", text_col="extracted")
    got = {(r["id"], r["surface"]) for r in m.collect()}
    # u1: the 2-gram "Apple (company)" must win over the contained 1-gram
    assert ("u1", "Apple (company)") in got
    assert ("u1", "Apple") not in got
    assert ("u2", "Apple") in got
    assert ("u3", "New York City") in got


def test_mentions_nested_subspan_rematching(spark):
    """Reference ``find_pages`` (wikigraph/wikigraph.py:240-270) re-matches
    all sub-token-range combinations inside each longest match — golden
    mirrors the reference test shape (tests/pipes/test_wikipages.py:4-8:
    'the doctor' also yields nested 'the' + 'doctor')."""
    pages = spark.createDataFrame(
        [("u1", "the Apple Inc iPhone launch")], ["url", "text"]
    )
    keys = spark.createDataFrame(
        [("apple inc iphone",), ("apple inc",), ("apple",), ("iphone",),
         ("launch",)],
        ["key"],
    ).withColumn("title", F.col("key")).withColumn("channel", F.lit("clean"))
    ext = extract_stage(pages)
    m = B.mentions_nested(ext, keys, id_col="url", text_col="extracted")
    got = {(r["surface"], r["nested"]) for r in m.collect()}
    assert got == {
        ("Apple Inc iPhone", False),   # longest match kept
        ("launch", False),
        ("Apple Inc", True),           # nested sub-spans re-matched
        ("Apple", True),
        ("iPhone", True),
    }
    # top-level rows alone == plain mentions() output
    plain = {(r["surface"],) for r in
             B.mentions(ext, keys, "url", "extracted").collect()}
    tops = {(s,) for s, nested in got if not nested}
    assert tops == plain


def test_mentions_broadcast_equals_join_path(spark, pages_df, titles_df):
    ext = extract_stage(pages_df.select("url", "text"))
    keys = B.title_keys(titles_df)
    join_path = {
        (r["id"], r["start"], r["n"], r["surface"], r["key"])
        for r in B.mentions(ext, keys, "url", "extracted").collect()
    }
    keyset = [r["key"] for r in keys.select("key").distinct().collect()]
    udf_path = {
        (r["id"], r["start"], r["n"], r["surface"], r["key"])
        for r in B.mentions_broadcast(ext, keyset, "url", "extracted").collect()
    }
    assert join_path == udf_path and len(join_path) > 0


def test_shuffle_join_path_with_first_token_prefilter(spark, pages_df,
                                                      titles_df):
    # broadcast_keys=False takes the shuffle-join branch, which pre-filters
    # exploded grams by key first token — must be lossless vs the broadcast
    # branch (the path a >2M-key dictionary falls back to)
    ext = extract_stage(pages_df.select("url", "text"))
    keys = B.title_keys(titles_df)
    rows = lambda df: {(r["id"], r["start"], r["n"], r["surface"], r["key"])
                       for r in df.collect()}
    bcast = rows(B.mentions(ext, keys, "url", "extracted",
                            broadcast_keys=True))
    shuffle = rows(B.mentions(ext, keys, "url", "extracted",
                              broadcast_keys=False))
    assert bcast == shuffle and len(shuffle) > 0


def test_block_members_maps_full_to_clean_key(spark, titles_df):
    pages = spark.createDataFrame(
        [("u1", "Apple (company) news"), ("u2", "an Apple (fruit) pie")],
        ["url", "text"],
    )
    ext = extract_stage(pages)
    keys = B.title_keys(titles_df)
    blocks = B.block_members(B.mentions(ext, keys, "url", "extracted"), keys)
    got = {(r["id"], r["block_key"]) for r in blocks.collect()}
    # both urls block under the CLEAN key "apple" (must meet to be scored)
    assert ("u1", "apple") in got and ("u2", "apple") in got


def _driver_key_map(titles) -> dict:
    """The pipeline's driver-built key → block-keys map, expanded: every
    key to the set of its block keys."""
    head = B.title_key_pairs(titles).toArrow()
    m = B.block_key_map(head.column("full_key").to_pylist(),
                        head.column("clean_key").to_pylist())
    return {k: set(v or (k,)) for k, v in m.items()}


def _bridge_key_map(titles) -> dict:
    """Reference: title_keys plus block_members' full→clean bridge, applied
    to one mention of every key."""
    keys = B.title_keys(titles)
    every_key = keys.select(F.col("key").alias("id"), "key",
                            F.col("key").alias("surface")).distinct()
    out: dict = {}
    for r in B.block_members(every_key, keys).collect():
        out.setdefault(r["id"], set()).add(r["block_key"])
    return out


_TITLE_TOKENS = ["apple", "Apple", "APPLE", "inc", "Inc.", "new", "York",
                 "café", "Ünïcode", "ß", "x", "42", "", "-"]
_QUALIFIERS = ["_(company)", "_(fruit)", "_(x)", "_(y)", "_(Apple)", "_()",
               "_(é)"]


@settings(max_examples=15, deadline=None)
@given(st.lists(
    st.one_of(st.none(), st.builds(
        lambda toks, quals: "_".join(toks) + "".join(quals),
        st.lists(st.sampled_from(_TITLE_TOKENS), max_size=3),
        st.lists(st.sampled_from(_QUALIFIERS), max_size=2))),
    max_size=10))
@example(["Apple_(company)", "Apple_(fruit)", "Apple", "apple_(Company)",
          "C_(x)_(y)", "C_x_y", "_(x)", "_(x)_(y)", "Apple_(company)",
          None, "Café_(x)", "Über_Straße"])
@example(["_(only)", "Only", None, None])
@example([])
def test_block_key_map_equals_title_keys_bridge(spark, titles):
    """The driver-built key → block-key map equals title_keys plus the
    block_members bridge: qualifiers, several qualifiers, all-qualifier
    titles (empty clean key), duplicates, mixed case, non-ASCII letters
    and null titles."""
    df = spark.createDataFrame([(t,) for t in titles], "title string")
    assert _driver_key_map(df) == _bridge_key_map(df)


def test_block_key_map_value_shapes():
    """A key blocks under itself unless its titles' clean keys say
    otherwise; ``()`` stands for the key itself."""
    m = B.block_key_map(["apple company", "apple fruit", "apple", "c x y",
                         "x"],
                        ["apple", "apple", "apple", "c", ""])
    assert m == {"apple company": ("apple",), "apple fruit": ("apple",),
                 "apple": (), "c x y": ("c",), "c": (), "x": ()}
    # a full key shared by titles with different clean keys blocks under
    # all of them
    m = B.block_key_map(["a b", "a b", "a b"], ["a", "b", "a b"])
    assert m == {"a b": ("a", "a b", "b"), "a": (), "b": ()}


def test_members_broadcast_equals_block_members(spark, pages_df,
                                                titles_df):
    """The fused scan's block members equal block_members over the
    broadcast mention scan on the synth corpus plus two pages whose url
    repeats an existing one (same and other text): as a set, and row for
    row once deduped across rows."""
    pages = pages_df.select("url", "text")
    first = (pages.where(F.lower("text").contains("apple (company)"))
             .orderBy("url").first())
    pages = pages.unionByName(spark.createDataFrame(
        [tuple(first), (first["url"], "Apple (fruit) and Apple (company)")],
        pages.schema))
    keys = B.title_keys(titles_df)
    keyset = [r["key"] for r in keys.select("key").distinct().collect()]
    want = B.block_members(
        B.mentions_broadcast(pages, keyset, "url", "text", raw_ws=True), keys)
    head = B.title_key_pairs(titles_df).toArrow()
    key_map = B.block_key_map(head.column("full_key").to_pylist(),
                              head.column("clean_key").to_pylist())
    got = B.members_broadcast(pages, key_map, "url", "text", raw_ws=True)
    assert got.columns == ["id", "block_key", "surface"]
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(got.dropDuplicates()) == rows(want) and rows(want)
    # one scan row per doc and member: only the repeated url repeats
    dup = [r for r in rows(got) if r[0] == first["url"]]
    assert len(rows(got)) - len(rows(want)) == len(dup) - len(set(dup)) > 0
    # full-channel matches block under their clean key
    assert (first["url"], "apple", "Apple (company)") in rows(got)


def test_salt_blocks_deterministic_and_capped(spark):
    rows = [(f"id{i:03d}", "hot") for i in range(50)] + [("idX", "cold")]
    blocks = spark.createDataFrame(rows, ["id", "block_key"])
    salted = B.salt_blocks(blocks, cap=10, nsalt=4)
    out = salted.collect()
    hot_salts = {r["salt"] for r in out if r["block_key"] == "hot"}
    cold_salts = {r["salt"] for r in out if r["block_key"] == "cold"}
    assert len(hot_salts) > 1          # oversized block got split
    assert cold_salts == {0}           # small block untouched
    # deterministic: same input -> same salts
    again = {(r["id"], r["salt"]) for r in B.salt_blocks(blocks, cap=10, nsalt=4).collect()}
    assert again == {(r["id"], r["salt"]) for r in out}


def test_cap_blocks(spark):
    rows = [(f"id{i:03d}", "k") for i in range(20)]
    blocks = spark.createDataFrame(rows, ["id", "block_key"])
    capped = B.cap_blocks(blocks, cap=5)
    got = sorted(r["id"] for r in capped.collect())
    assert got == [f"id{i:03d}" for i in range(5)]  # deterministic first-5


def test_shingles_match_pure_python(spark):
    texts = [("d1", "Hello, World and hello again"), ("d2", "ab")]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {}
    for r in B.shingle_df(df, "doc_id", "text", k=5).collect():
        got.setdefault(r["id"], set()).add(r["shingle"])
    for did, text in texts:
        assert got[did] == set(char_shingles(text, 5)), did


def test_minhash_uses_portable_arithmetic(spark):
    df = spark.createDataFrame([("d1", "hello world")], ["doc_id", "text"])
    sig = B.minhash_signatures(B.shingle_df(df, "doc_id", "text", 5), 4).collect()
    sh = char_shingles("hello world", 5)
    assert len(sig) == 1
    hs = [int(md5_hex(s)[:8], 16) for s in sh]
    for s_idx in range(4):
        expected = min(
            (B.MINHASH_A[s_idx] * h + B.MINHASH_B[s_idx]) % B.MINHASH_P
            for h in hs
        )
        assert sig[0][f"mh{s_idx}"] == expected


def test_shingle_arrays_matches_exploded(spark):
    texts = [("d1", "Hello, World and hello again"), ("d2", "ab"),
             ("d3", "!!! ,,,"),  # normalizes to empty: dropped by both
             ("d4", "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    exploded = {}
    for r in B.shingle_df(df, "doc_id", "text", k=5).collect():
        exploded.setdefault(r["id"], set()).add(r["shingle"])
    arrays = {r["id"]: set(r["shingles"])
              for r in B.shingle_arrays(df, "doc_id", "text", k=5).collect()}
    assert arrays == exploded
    assert "d3" not in arrays


def test_mapside_signatures_bit_identical(spark):
    df = spark.createDataFrame(
        [("d1", "hello world wide web"), ("d2", "some other document text"),
         ("d3", "hello world wide web and more")],
        ["doc_id", "text"],
    )
    old = {r["id"]: tuple(r[f"mh{i}"] for i in range(16))
           for r in B.minhash_signatures(
               B.shingle_df(df, "doc_id", "text", 5), 16).collect()}
    # the streaming path's signature expression over the shingle arrays
    new = {r["id"]: tuple(r["sig"])
           for r in B.shingle_arrays(df, "doc_id", "text", 5).select(
               "id", B.minhash_sig_expr(F.col("shingles"), 16).alias("sig"))
           .collect()}
    assert old == new


def test_lsh_bucket_layout(spark):
    df = spark.createDataFrame(
        [("d1", "hello world wide web"), ("d2", "hello world wide web"),
         ("d3", "completely different text")],
        ["doc_id", "text"],
    )
    sig = B.minhash_signatures(B.shingle_df(df, "doc_id", "text", 5), 16)
    buckets = B.lsh_buckets(sig, bands=4, rows_per_band=4)
    rows = buckets.collect()
    assert {r["band"] for r in rows} == {0, 1, 2, 3}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], set()).add((r["band"], r["bucket"]))
    assert by_doc["d1"] == by_doc["d2"]          # identical docs collide
    assert not (by_doc["d1"] & by_doc["d3"])     # different docs don't


def test_mentions_broadcast_raw_ws_fusion(spark, pages_df, titles_df):
    """Fused extract+scan (raw_ws=True) over RAW text must equal
    extract_stage followed by the scan — same tokens, surfaces, spans; the
    text crosses the Arrow boundary once instead of twice."""
    keys = [r["key"] for r in
            B.title_keys(titles_df).select("key").distinct().collect()]
    ext = extract_stage(pages_df.select("url", "text"))
    two_pass = {tuple(r) for r in
                B.mentions_broadcast(ext, keys, "url", "extracted").collect()}
    fused = {tuple(r) for r in
             B.mentions_broadcast(pages_df.select("url", "text"), keys,
                                  "url", "text", raw_ws=True).collect()}
    assert two_pass == fused and len(fused) > 0


def test_first_token_memo_is_single_slot():
    """Worker-lifetime memory bound: a reused Python worker cycling many
    broadcast dictionaries must hold at most ONE (keyset, index) entry —
    the previous keyset is released when a new one arrives."""
    k1 = frozenset({"apple", "apple inc", "big data table"})
    k2 = frozenset({"banana split", "orange"})
    i1 = B._first_token_index(k1)
    assert i1 == {"apple": 2, "big": 3}
    assert B._first_token_index(k1) is i1          # memo hit, same object
    i2 = B._first_token_index(k2)
    assert i2 == {"banana": 2, "orange": 1}
    assert B._FIRST_TOKEN_MEMO[0][0] is k2         # slot replaced...
    assert len(B._FIRST_TOKEN_MEMO) == 1           # ...not appended
    assert B._first_token_index(k1) == i1          # rebuild still correct
    assert B._FIRST_TOKEN_MEMO[0][0] is k1


def test_mentions_broadcast_nested_matches_join_path(spark, pages_df,
                                                     titles_df):
    """The fused scan's nested mode must emit EXACTLY the join path's
    mentions_nested rows (longest + strictly-contained sub-span re-matches),
    on both the extracted and the fused raw_ws input."""
    keys_df = B.title_keys(titles_df)
    keys = [r["key"] for r in keys_df.select("key").distinct().collect()]
    want = {tuple(r) for r in
            B.mentions_nested(
                extract_stage(pages_df.select("url", "text")), keys_df,
                id_col="url", text_col="extracted").collect()}
    assert any(r[-1] for r in want), "fixture has no nested rows"
    got_ext = {tuple(r) for r in
               B.mentions_broadcast(
                   extract_stage(pages_df.select("url", "text")), keys,
                   "url", "extracted", nested=True).collect()}
    got_fused = {tuple(r) for r in
                 B.mentions_broadcast(pages_df.select("url", "text"), keys,
                                      "url", "text", raw_ws=True,
                                      nested=True).collect()}
    assert got_ext == want
    assert got_fused == want


def test_title_keys_local_parity(spark):
    """title_keys_local must emit row-for-row the Spark title_keys output
    (as a set — the operator's own order is shuffle-dependent), including
    qualifier stripping, empty-key drops, and cross-channel duplicates."""
    titles = [t["title"] for t in synth.gen_titles()] + [
        "Mercury_(planet)", "Mercury_(element)", "Mercury",
        "_(all_qualifier)", "A__B", "C_(x)_(y)", "MiXeD_CaSe_42!",
    ]
    want = {tuple(r) for r in
            B.title_keys(spark.createDataFrame(
                [{"title": t} for t in titles])).collect()}
    got = set(B.title_keys_local(titles))
    assert got == want


def test_mention_salience_frequency_and_earliness(spark):
    from spikex_spark.operators.blocking import mention_salience
    # doc 1: 'acme' 2 mentions starting at token 1; 'zeta' once at token 9
    m = spark.createDataFrame(
        [(1, 1, "acme"), (1, 5, "acme"), (1, 9, "zeta")],
        ["id", "start", "key"])
    dt = spark.createDataFrame([(1, 10)], ["id", "doc_tokens"])
    out = {r["key"]: r for r in mention_salience(m, dt).collect()}
    # acme: 0.5*(2/3) + 0.5*(1 - 0/10) = 0.833333; rank 1
    assert out["acme"]["salience"] == round(0.5 * (2 / 3) + 0.5, 6)
    assert out["acme"]["rank"] == 1
    # zeta: 0.5*(1/3) + 0.5*(1 - 8/10) = 0.266667
    assert out["zeta"]["salience"] == round(0.5 / 3 + 0.5 * 0.2, 6)
    assert out["zeta"]["rank"] == 2


def test_mention_salience_tie_breaks_on_key(spark):
    from spikex_spark.operators.blocking import mention_salience
    m = spark.createDataFrame(
        [(1, 3, "bbb"), (1, 3, "aaa")], ["id", "start", "key"])
    # same counts, same start -> identical salience; 'aaa' must rank 1
    dt = spark.createDataFrame([(1, 10)], ["id", "doc_tokens"])
    out = sorted(mention_salience(m, dt).collect(),
                 key=lambda r: r["rank"])
    assert [r["key"] for r in out] == ["aaa", "bbb"]
    assert out[0]["salience"] == out[1]["salience"]


def test_lsh_band_quality_invariants(spark):
    import __spark_entry__ as E
    rows = E.queries()["lsh_band_quality"](
        spark, "/root/testdata/sf0.001").collect()
    assert {r["band"] for r in rows} <= {0, 1, 2, 3}
    total_new = sum(r["n_new"] for r in rows)
    # marginal contributions partition the distinct pair union
    import pyspark.sql.functions as F
    for r in rows:
        assert 0 <= r["n_verified"] <= r["n_candidates"]
        assert 0 <= r["n_new"] <= r["n_candidates"]
        assert abs(r["precision"]
                   - round(r["n_verified"] / r["n_candidates"], 6)) < 1e-9
    # band 0 by construction contributes all its pairs as new
    b0 = next(r for r in rows if r["band"] == 0)
    assert b0["n_new"] == b0["n_candidates"]
    assert total_new >= b0["n_candidates"]


def test_chunked_shingles_equal_naive_and_scale_linearly(spark):
    """The chunked char_shingles_expr must produce EXACTLY the naive
    per-position construction's array (content and order) — signatures
    and buckets depend on it bit-for-bit — including at boundary sizes
    around the chunk length."""
    import pyspark.sql.functions as F

    from spikex_spark.operators.blocking import (_SHINGLE_CHUNK,
                                                 char_shingles_expr)

    def naive(norm, k=5):
        sh = F.when(F.length(norm) < k, F.array(norm)).otherwise(
            F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.length(norm) - k + 1),
                lambda i: F.substring(norm, i, F.lit(k)))))
        return F.filter(sh, lambda s: s != "")

    import random
    rng = random.Random(5)
    c = _SHINGLE_CHUNK
    texts = ["", "ab", "abcd", "abcde",
             "abcdef" * 100,
             "".join(rng.choice("abc ") for _ in range(c - 1)),
             "".join(rng.choice("abc ") for _ in range(c)),
             "".join(rng.choice("abc ") for _ in range(c + 1)),
             "".join(rng.choice("abcdefgh ") for _ in range(3 * c + 7))]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, t string")
    rows = df.select(
        "id", char_shingles_expr(F.col("t")).alias("got"),
        naive(F.col("t")).alias("want")).collect()
    for r in rows:
        assert r["got"] == r["want"], r["id"]


def test_char_shingles_sql_path_equals_column_path(spark):
    """The SQL-string construction path (pass the column NAME) must produce
    EXACTLY the Column-API path's array — content and order — on empties,
    sub-k texts, chunk-boundary lengths and non-ASCII codepoints. The SQL
    text's 512.0D double suffix is load-bearing: a bare decimal literal
    would make the chunk-count division decimal-typed."""
    import random

    import pyspark.sql.functions as F

    from spikex_spark.operators.blocking import (_SHINGLE_CHUNK,
                                                 char_shingles_expr)

    rng = random.Random(7)
    c = _SHINGLE_CHUNK
    texts = ["", "ab", "abcd", "abcde", "héllo wörld ünïcode",
             "abcdef" * 100,
             "".join(rng.choice("abc ") for _ in range(c - 1)),
             "".join(rng.choice("abc ") for _ in range(c)),
             "".join(rng.choice("abc ") for _ in range(c + 1)),
             "".join(rng.choice("abcdefgh ") for _ in range(3 * c + 7))]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, t string")
    for k in (2, 5, 7, 13):
        rows = df.select(
            "id", char_shingles_expr("t", k).alias("got"),
            char_shingles_expr(F.col("t"), k).alias("want")).collect()
        for r in rows:
            assert r["got"] == r["want"], (k, r["id"])


def _naive_shingles(text: str, k: int = 5) -> list[str]:
    """Distinct char k-shingles in first-occurrence order; a text shorter
    than k is its own single shingle (dropped when empty)."""
    if len(text) < k:
        return [text] if text else []
    return list(dict.fromkeys(text[i:i + k]
                              for i in range(len(text) - k + 1)))


@settings(max_examples=25, deadline=None)
@given(name=st.text(alphabet="sijSIJa` .", min_size=1, max_size=4))
@example(name="j")
@example(name="s")
@example(name="I")
@example(name="a`b")
def test_char_shingles_by_any_column_name(spark, name):
    """A column NAME is taken literally: names equal to the SQL text's
    lambda variables (j, s, i, any case) or holding a backtick give the
    same shingles as any other name."""
    import pyspark.sql.functions as F

    from spikex_spark.operators.blocking import char_shingles_expr

    texts = ["", "abc", "hello world", "abcdefgh" * 80]
    df = spark.createDataFrame([(t,) for t in texts],
                               f"`{name.replace('`', '``')}` string")
    got = [r[0] for r in df.select(char_shingles_expr(name)).collect()]
    assert got == [_naive_shingles(t) for t in texts]
