"""Stage 2/3 — mention candidates + blocking keys.

Reference parity:

* Title-key dictionary build — spikex ``wikigraph/wikigraph.py:214-229``
  (A1: group titles by normalized key) and ``_clean_title``
  (``wikigraph.py:367-376``, F3).
* Mention detection — spikex ``WikiPageDetector.find_pages``
  (``wikigraph.py:231-270``, J5): Aho-Corasick longest-match of doc text
  against normalized titles. Spark recast: explode token n-grams per doc and
  equi-join against the key table (the blocking join), then resolve
  leftmost-longest per position with a window (O4,
  ``matcher/matcher.py:341-353`` semantics).
* MinHash/LSH shingle blocking — the second recall channel (SURVEY.md §7
  step 5); built from md5 band-minima so the DuckDB oracle can reproduce it
  exactly.

Scale notes:

* The n-gram explode multiplies rows by ~max_n; columns are pruned to
  (id, ngram, pos) before the shuffle.
* The key table is usually ≪ pages — Catalyst broadcasts it under the 64MB
  threshold; at wiki scale (~20M titles) it exceeds broadcast and AQE picks a
  shuffle-hash join; hot keys are handled by ``salt_blocks``/``cap_blocks``.
* Skew: hub keys (bare "apple") produce quadratic pair blowups downstream —
  the explicit mitigation the north_rule demands lives here, not in AQE
  alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import one_wave
from ..sqlquote import quote_ident

# --- key-space normalization (shared convention, see textutils docstring) ---
# A "key" is the space-joined sequence of normalized tokens, where a token is
# an underscore/whitespace-separated word lowercased with non-alphanumerics
# stripped.  Identical logic is expressible in Spark, DuckDB and Python.

_WORD_SEP = "[_ ]+"
_NON_ALNUM = "[^a-z0-9]+"


def _norm_tokens(col: F.Column) -> F.Column:
    """array of normalized tokens for a title or extracted text."""
    raw = F.split(col, _WORD_SEP)
    norm = F.transform(raw, lambda t: F.regexp_replace(F.lower(t), _NON_ALNUM, ""))
    return F.filter(norm, lambda t: t != "")


# a title's qualifiers ("_(company)"); the clean key is the title without them
_QUALIFIER = r"_\([^)]*\)"


def _key_expr(col: F.Column) -> F.Column:
    """The key of a title or text: its normalized tokens, space-joined."""
    return F.array_join(_norm_tokens(col), " ")


def title_keys(titles_df: DataFrame, title_col: str = "title") -> DataFrame:
    """Build the blocking-key dimension: one row per (key, title, channel).

    Two channels per title (spikex keys only on the cleaned form; the full
    form is our longest-match channel so qualified mentions win):

    * ``clean``: qualifier-stripped (``_clean_title``) lowercased key.
    * ``full``:  all tokens of the title including the qualifier.
    """
    t = titles_df.select(F.col(title_col).alias("title"))
    clean_keys = t.select(
        "title",
        _key_expr(F.regexp_replace(F.col("title"), _QUALIFIER, "")).alias("key"),
        F.lit("clean").alias("channel"),
    )
    full_keys = t.select(
        "title",
        _key_expr(F.col("title")).alias("key"),
        F.lit("full").alias("channel"),
    )
    return (
        clean_keys.unionByName(full_keys)
        .where(F.col("key") != "")
        .dropDuplicates(["key", "title", "channel"])
    )


def title_key_pairs(titles_df: DataFrame) -> DataFrame:
    """(full_key, clean_key) per title, with the expressions of
    :func:`title_keys`: a narrow projection with no shuffle, so the
    dictionary probe reads the titles once. Titles whose full key is empty
    or null are dropped (their clean key is then empty too); a clean key
    may be empty (an all-qualifier title)."""
    t = F.col("title")
    return titles_df.select(
        _key_expr(t).alias("full_key"),
        _key_expr(F.regexp_replace(t, _QUALIFIER, "")).alias("clean_key"),
    ).where(F.col("full_key") != "")


def block_key_map(full_keys: list, clean_keys: list) -> dict:
    """``{key: block keys}`` over every key of :func:`title_keys`, built on
    the driver from :func:`title_key_pairs` rows, with the semantics of
    :func:`block_members`' full→clean bridge: a key's block keys are the
    non-empty clean keys of the titles whose full key it is, or the key
    itself when there are none.

    The value is that tuple of block keys, sorted, or ``()`` for a key that
    is its own block key — most keys, and ``()`` is one shared object, so
    they cost no tuple each in the driver and in every Python worker."""
    bridge: dict = {}
    for full, clean in zip(full_keys, clean_keys):
        if not full:
            continue
        bridge.setdefault(full, set())
        if clean:
            bridge[full].add(clean)
            bridge.setdefault(clean, set())
    return {k: () if v <= {k} else tuple(sorted(v))
            for k, v in bridge.items()}


def title_keys_local(titles: list[str]) -> list[tuple[str, str, str]]:
    """Pure-Python mirror of :func:`title_keys` for DRIVER-LOCAL title lists.

    When the titles already live on the driver (a broadcast dictionary
    source, synth fixtures), routing 45 rows through createDataFrame →
    Catalyst → collect costs seconds of serial JVM/job overhead for zero
    distribution benefit. Row-for-row equality with the Spark operator is
    pinned by ``test_blocking.py::test_title_keys_local_parity`` (ASCII
    titles; the Spark path remains the one for at-scale title tables).
    """
    import re
    word_sep = re.compile(_WORD_SEP)
    non_alnum = re.compile(_NON_ALNUM)
    qualifier = re.compile(_QUALIFIER)

    def norm_key(s: str) -> str:
        toks = (non_alnum.sub("", t.lower()) for t in word_sep.split(s))
        return " ".join(t for t in toks if t)

    out: list[tuple[str, str, str]] = []
    seen: set[tuple[str, str, str]] = set()
    for title in titles:
        for key, channel in ((norm_key(qualifier.sub("", title)), "clean"),
                             (norm_key(title), "full")):
            row = (title, key, channel)
            if key and row not in seen:
                seen.add(row)
                out.append(row)
    return out


def ngram_candidates(df: DataFrame, id_col: str, text_col: str,
                     max_n: int = 4) -> DataFrame:
    """Explode token n-grams (n=1..max_n) with start positions.

    Output: (id, start, n, ngram, surface) — ``ngram`` in key space,
    ``surface`` the raw underscore-joined slice (for scoring).
    """
    # ONE projection + ONE explode for all n in 1..max_n — a per-n union
    # re-scanned (and re-tokenized) the input max_n times; columns _raw/_norm
    # are materialized first so the gram transform sees column refs, not the
    # tokenization expression (see shingle_df note on inline re-evaluation)
    raw = F.filter(F.split(F.col(text_col), _WORD_SEP), lambda t: t != "")
    base = df.select(
        F.col(id_col).alias("id"),
        raw.alias("_raw"),
        F.transform(raw, lambda t: F.regexp_replace(F.lower(t), _NON_ALNUM, "")).alias("_norm"),
    )
    rawc, normc = F.col("_raw"), F.col("_norm")
    grams = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(rawc)),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(max_n), F.size(rawc) - i + 1)),
                lambda n: F.struct(
                    i.alias("start"),
                    n.alias("n"),
                    F.array_join(F.slice(normc, i, n), " ").alias("ngram"),
                    F.array_join(F.slice(rawc, i, n), " ").alias("surface"),
                ),
            ),
        )
    )
    return (
        base.select("id", F.explode(grams).alias("g"))
        .select("id", "g.start", "g.n", "g.ngram", "g.surface")
        .where(F.col("ngram") != "")
    )


def _mention_hits(pages_df: DataFrame, title_keys_df: DataFrame,
                  id_col: str, text_col: str, max_n: int,
                  broadcast_keys: bool) -> DataFrame:
    """ALL key-matching n-grams (pre longest-match): (id, start, n, surface,
    key)."""
    cands = ngram_candidates(pages_df, id_col, text_col, max_n)
    keys = title_keys_df.select("key").distinct()
    if broadcast_keys:
        keys = F.broadcast(keys)
    else:
        # lossless first-token pre-filter for the shuffle-join path: a gram
        # can only equal a key whose first token it shares, and the distinct
        # first-token table is far smaller than the key table, so this
        # semi-join (AQE picks broadcast when it fits) drops the great
        # majority of the exploded grams BEFORE the wide shuffle — the
        # join-path analogue of the scan path's _first_token_index
        ft = (title_keys_df
              .select(F.substring_index("key", " ", 1).alias("_ft"))
              .distinct())
        cands = cands.join(
            ft, F.substring_index(F.col("ngram"), " ", 1) == F.col("_ft"),
            "left_semi")
    return cands.join(keys, cands.ngram == keys.key, "inner").drop("ngram")


def _keep_longest(hits: DataFrame) -> DataFrame:
    """Longest-match resolution = reference ``match_longest`` + submatch
    filtering (``matcher.py:341-353``).

    ONE window pass by id does both O4 (same-start: keep longest) and O2
    (contained-span drop): in (start asc, n desc) scan order a row survives
    iff its end exceeds the running max end of ALL preceding rows — a
    shorter same-start row always fails that test against the longer one,
    so the separate per-(id,start) row_number shuffle is redundant.
    """
    w_prev = (
        Window.partitionBy("id")
        .orderBy(F.asc("start"), F.desc("n"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        hits.withColumn("prev_end", F.max(F.col("start") + F.col("n")).over(w_prev))
        .where(
            F.col("prev_end").isNull()
            | (F.col("start") + F.col("n") > F.col("prev_end"))
        )
        .drop("prev_end")
    )


def mentions(pages_df: DataFrame, title_keys_df: DataFrame,
             id_col: str = "url", text_col: str = "extracted",
             max_n: int = 4, broadcast_keys: bool = True) -> DataFrame:
    """The blocking join: doc n-grams ⋈ title keys, longest match wins.

    Output: (id, start, n, surface, key) — one row per retained mention.
    """
    hits = _mention_hits(pages_df, title_keys_df, id_col, text_col, max_n,
                         broadcast_keys)
    return _keep_longest(hits)


def mentions_nested(pages_df: DataFrame, title_keys_df: DataFrame,
                    id_col: str = "url", text_col: str = "extracted",
                    max_n: int = 4, broadcast_keys: bool = True) -> DataFrame:
    """Longest matches PLUS nested sub-span re-matches (reference
    ``find_pages``, ``wikigraph/wikigraph.py:240-270``: after yielding each
    longest match it re-runs the trie over every sub-token-range combination
    of the match, deduped by char coords).

    The union over all contiguous sub-ranges of a span of the trie's
    longest-match output is exactly the set of key-matching n-grams STRICTLY
    contained in that span (each such n-gram is returned by the sub-range
    equal to itself), so the Spark recast is a containment join of the raw
    hit table against the kept top-level spans — no per-combination rescan.

    Output: (id, start, n, surface, key, nested) — nested=false rows are the
    ``mentions`` output; nested=true rows are sub-span re-matches. A user
    porting WikiPageX gets the reference's nested spans ("Apple Inc" /
    "iPhone" inside "Apple Inc iPhone") back.
    """
    hits = _mention_hits(pages_df, title_keys_df, id_col, text_col, max_n,
                         broadcast_keys)
    # hits feeds the window pass AND the containment join — materialize once
    hits = hits.localCheckpoint(eager=False)
    kept = _keep_longest(hits)
    top = kept.select(
        F.col("id").alias("t_id"), F.col("start").alias("t_start"),
        (F.col("start") + F.col("n")).alias("t_end"),
    )
    end = F.col("start") + F.col("n")
    nested = (
        hits.join(
            top,
            on=(
                (F.col("id") == F.col("t_id"))
                & (F.col("start") >= F.col("t_start"))
                & (end <= F.col("t_end"))
                # strictly contained: not coord-identical to the top span
                & ((F.col("start") > F.col("t_start")) | (end < F.col("t_end")))
            ),
        )
        .select("id", "start", "n", "surface", "key")
        .distinct()
    )
    return kept.withColumn("nested", F.lit(False)).unionByName(
        nested.withColumn("nested", F.lit(True))
    )


def mentions_broadcast(pages_df: DataFrame, keys: set[str] | list[str],
                       id_col: str = "url", text_col: str = "extracted",
                       max_n: int = 4, raw_ws: bool = False,
                       nested: bool = False) -> DataFrame:
    """Broadcast-dictionary mention detection (reference strategy (a):
    the Aho-Corasick trie shipped into the matcher, ``wikigraph.py:231-270``).

    The normalized key set ships once per worker as a broadcast variable;
    each doc is scanned once in Python per Arrow batch — no join, no window
    shuffle, and identical output to ``mentions`` (the n-gram join path),
    enforced by tests. Use the join path when the dictionary cannot be
    broadcast.

    ``raw_ws=True`` fuses the extract stage into the scan: the input is RAW
    page text and tokenization splits on whitespace+underscore directly —
    token-identical to extract(ws→_) followed by the ``[_ ]+`` split, but
    the full text crosses the Arrow boundary ONCE instead of twice (extract
    out + scan in). At 100 TB the text column is the dominant byte volume,
    so this halves the pipeline's Python-boundary traffic.

    ``nested=True`` adds a ``nested`` boolean column and emits, besides the
    longest matches (nested=false), every key-matching n-gram STRICTLY
    contained in a kept span (nested=true) — the same rows as
    ``mentions_nested`` (reference find_pages sub-span re-matching,
    ``wikigraph/wikigraph.py:240-270``) at fused-scan speed: the raw match
    list is already in hand per doc, so containment is a local filter, not
    a join.
    """
    cols = ["start", "n", "surface", "key"] + (["nested"] if nested else [])
    return _broadcast_scan(
        pages_df, frozenset(keys), id_col, text_col, raw_ws,
        cols, "start int, n int, surface string, key string"
        + (", nested boolean" if nested else ""),
        lambda text, keyset, first_tok, split: _scan_doc(
            text, keyset, first_tok, max_n, split, nested))


def members_broadcast(pages_df: DataFrame, key_map: dict,
                      id_col: str = "url", text_col: str = "extracted",
                      max_n: int = 4, raw_ws: bool = False) -> DataFrame:
    """Block members straight from the dictionary scan:
    ``block_members(mentions_broadcast(pages_df, key_map, ...), keys)`` in
    one Arrow stage, with no bridge join (reference strategy (a): a trie
    hit returns its target directly, ``wikigraph.py:195-237``).

    ``key_map`` is :func:`block_key_map` of the titles; each longest match
    emits one row per block key of its matched key. Output:
    (id, block_key, surface), deduped per doc. An id that repeats across
    input rows can repeat a member; ``block_members`` dedups globally, so a
    caller wanting its exact rows adds ``dropDuplicates``."""
    def doc_members(text, keys, first_tok, split):
        members = {}
        for _, _, surface, key in _scan_doc(text, keys, first_tok, max_n,
                                            split):
            for block_key in keys[key] or (key,):
                members[(block_key, surface)] = None
        return members

    return _broadcast_scan(
        pages_df, key_map, id_col, text_col, raw_ws,
        ["block_key", "surface"], "block_key string, surface string",
        doc_members,
    )


def _broadcast_scan(pages_df: DataFrame, keys, id_col: str, text_col: str,
                    raw_ws: bool, cols: list[str], schema: str,
                    doc_rows) -> DataFrame:
    """The Arrow stage of the broadcast scans: ``keys`` (a key set or a
    key map) ships once as a broadcast variable, and
    ``doc_rows(text, keys, first_tok, split)`` gives one doc's output rows
    (the ``cols`` after ``id``)."""
    import pandas as pd

    # explicit broadcast: a closure-captured set is re-pickled and re-shipped
    # with EVERY task (128 tasks × MBs of keys); a broadcast variable is
    # fetched and unpickled once per worker process
    sc = pages_df.sparkSession.sparkContext
    bkeys = sc.broadcast(keys)
    out_schema = (f"id {pages_df.schema[id_col].dataType.simpleString()}, "
                  + schema)
    split = _re_split_raw_ws if raw_ws else _re_split

    def run(batches):
        keyset = bkeys.value
        # memoised on the broadcast value: once per worker, not per task
        first_tok = _first_token_index(keyset)
        for pdf in batches:
            rows = {c: [] for c in ["id", *cols]}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                for r in doc_rows(text, keyset, first_tok, split):
                    rows["id"].append(did)
                    for c, v in zip(cols, r):
                        rows[c].append(v)
            yield pd.DataFrame(rows)

    # one wave of Python tasks for a small page table (session.one_wave)
    return one_wave(pages_df.select(id_col, text_col), pages_df) \
        .mapInPandas(run, schema=out_schema)


def _scan_doc(text: str, keyset, first_tok, max_n: int, split=None,
              nested: bool = False):
    """One doc's dictionary scan (the Arrow-batch kernel of
    ``mentions_broadcast``; module-level so the property suite can fuzz it
    against the join-path semantics directly)."""
    split = split or _re_split
    raw = [t for t in split(text) if t]
    norm = [_norm_word(t) for t in raw]
    matches = []
    L = len(raw)
    for i in range(L):
        # first-token pruning: a key matching at i must START with
        # norm[i] (grams containing empty norm tokens join with double/
        # leading spaces and can never equal a clean key), so positions
        # whose token heads no key cost ONE dict probe instead of max_n
        # gram-probe rounds — most tokens in real text
        cap = first_tok.get(norm[i])
        if cap is None:
            continue
        # grams grow INCREMENTALLY (O(cap) appended chars per position, not
        # O(cap²) re-joins); the string equals " ".join over the unfiltered
        # norm slice exactly — empty norm tokens contribute double spaces,
        # mirroring the join path's array_join (n>1 grams are never empty,
        # so only the unigram needs the truthiness check)
        top = min(max_n, L - i, cap)
        key = norm[i]
        if key and key in keyset:
            matches.append((i + 1, 1, raw[i], key))
        for n in range(2, top + 1):
            key = key + " " + norm[i + n - 1]
            if key in keyset:
                matches.append((i + 1, n, " ".join(raw[i:i + n]), key))
    # same semantics as the O2/O4 window: (start asc, n desc) scan,
    # keep iff end exceeds the running max end of ALL prior rows
    matches.sort(key=lambda m: (m[0], -m[1]))
    out = []
    running = None
    for start, n, surface, key in matches:
        end = start + n
        if running is None or end > running:
            out.append((start, n, surface, key))
        running = end if running is None else max(running, end)
    if not nested:
        return out
    # sub-span re-matches: raw hits strictly inside any kept span
    # (coords not equal to the containing span) — `matches` is sorted by
    # (start, -n) and kept spans have unique ascending starts, so the FIRST
    # kept span with end >= hit.end is the only possible container: one
    # merged forward walk suffices (no per-pair scan)
    sub = []
    ki = 0
    for start, n, surface, key in matches:
        end = start + n
        while ki < len(out) and out[ki][0] + out[ki][1] < end:
            ki += 1
        if ki >= len(out):
            break
        ts, tn = out[ki][0], out[ki][1]
        if (start >= ts and end <= ts + tn
                and (start > ts or end < ts + tn)):
            sub.append((start, n, surface, key))
    return [(s, n, sf, k, False) for s, n, sf, k in out] + \
           [(s, n, sf, k, True) for s, n, sf, k in sub]


# per-process memo: first token of each key -> max key length (in tokens);
# built once per python worker, not once per task (600k-key dict ~0.2s).
# SINGLE-SLOT: one dictionary per stage is the realistic access pattern, and
# a reused worker cycling many broadcast dictionaries must not accumulate
# hundreds of MB of dead keysets. The slot holds (keyset, idx) — keeping the
# keyset ref is what makes the identity check safe against id() recycling.
_FIRST_TOKEN_MEMO: list = [None]


def _first_token_index(keyset) -> dict:
    slot = _FIRST_TOKEN_MEMO[0]
    if slot is not None and slot[0] is keyset:
        return slot[1]
    idx: dict = {}
    for k in keyset:
        w = k.split(" ", 1)[0]
        n = k.count(" ") + 1
        if idx.get(w, 0) < n:
            idx[w] = n
    _FIRST_TOKEN_MEMO[0] = (keyset, idx)
    return idx


import re as _re_mod

_RE_WORD_SEP = _re_mod.compile(r"[_ ]+")
# extract.extract replaces each ASCII ws char with '_'; splitting RAW text
# on ws+underscore yields the identical token sequence in one pass
_RE_WORD_SEP_RAW = _re_mod.compile(r"[_ \t\n\x0b\f\r]+")
_RE_NON_ALNUM_PY = _re_mod.compile(r"[^a-z0-9]+")


def _re_split(text: str) -> list[str]:
    return _RE_WORD_SEP.split(text)


def _re_split_raw_ws(text: str) -> list[str]:
    return _RE_WORD_SEP_RAW.split(text)


def _norm_word(t: str) -> str:
    return _RE_NON_ALNUM_PY.sub("", t.lower())


def block_members(mentions_df: DataFrame, title_keys_df: DataFrame) -> DataFrame:
    """Map each mention to its CLEAN blocking key (qualifier-stripped).

    A mention matched on the full channel ("apple company") still blocks
    under the clean key ("apple") — company/fruit pages must meet in one
    block to be scored apart. Output: (id, block_key, surface).

    The pipeline uses this bridge join only on its join branch, for a
    dictionary too big to broadcast; the broadcast branch maps keys inside
    the scan (:func:`members_broadcast` over :func:`block_key_map`), and
    this function is the reference that scan is tested against.
    """
    # full key -> clean key bridge (per title), distinct to avoid fanout
    bridge = (
        title_keys_df.where(F.col("channel") == "full")
        .select(F.col("key").alias("full_key"), "title")
        .join(
            title_keys_df.where(F.col("channel") == "clean")
            .select(F.col("key").alias("clean_key"), "title"),
            "title",
        )
        .select("full_key", "clean_key")
        .distinct()
    )
    m = mentions_df.join(F.broadcast(bridge), mentions_df.key == bridge.full_key, "left")
    return (
        m.select(
            "id",
            F.coalesce("clean_key", "key").alias("block_key"),
            "surface",
        )
        # NB: pre-partitioning by (block_key, surface) so the downstream
        # star-collapse window could sort in place was tried and REVERTED:
        # the pipeline checkpoints this stage (localCheckpoint → Scan
        # ExistingRDD) which discards outputPartitioning, so the window
        # re-shuffles anyway and the explicit repartition is pure extra cost
        .dropDuplicates(["id", "block_key", "surface"])
    )


# ---------------------------------------------------------------------------
# MinHash / LSH shingle blocking (second recall channel + near-dup dedup)
# ---------------------------------------------------------------------------

def shingle_df(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Distinct char k-shingles of the normalized text: (id, shingle).

    Normalization = space-joined normalized tokens (same as
    ``textutils.char_shingles``). Texts shorter than k yield the whole text.
    """
    # materialize the normalized text in its OWN projection before the
    # per-shingle transform: inlining it makes Catalyst re-evaluate the full
    # normalization chain per array element — O(len²) per doc, measured 18×
    # slower at sf0.1
    normed = df.select(
        F.col(id_col).alias("id"),
        F.array_join(_norm_tokens(F.col(text_col)), " ").alias("_norm"),
    )
    # chunked shingle construction — see char_shingles_expr: the naive
    # per-position substring is O(len²) per doc (8 min for ONE 500 KB page)
    return (
        normed.select(
            "id",
            F.explode(char_shingles_expr("_norm", k)).alias("shingle"))
        .where(F.col("shingle") != "")
    )


# universal-hash constants for arithmetic MinHash: mh_i = (a_i·h + b_i) mod p
# with h = first 8 md5 hex chars of the shingle (32-bit). ONE md5 per shingle
# (the md5-per-seed variant cost 16× the hashing) and every operation is
# portable integer arithmetic — DuckDB reproduces signatures bit-for-bit.
MINHASH_P = 2_147_483_647  # 2^31 - 1; a_i·h + b_i < 2^52, safe under ANSI int64
MINHASH_A = [999983, 999979, 999961, 999959, 999953, 999931, 999917, 999907,
             999883, 999863, 999853, 999809, 999773, 999769, 999763, 999749]
MINHASH_B = [15487469, 15487291, 15487103, 15486977, 15486869, 15486719,
             15486481, 15486347, 15486173, 15485989, 15485867, 15485863,
             15485857, 15485849, 15485843, 15485761]


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """Wide MinHash signature per id: (id, mh0..mh{n-1}) as longs.

    One narrow groupBy with n ``min((a_i·h + b_i) mod p)`` aggregates — the
    mins combine map-side (partial agg), so the shuffle carries ONE row per
    id, not num_hashes× the shingle table.
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"at most {len(MINHASH_A)} hashes supported")
    # SQL-string construction (one py4j round-trip per expression instead
    # of ~5 per Column op — this chain is built inside every timed rep of
    # four headline queries); F.expr parses to the identical Catalyst
    # nodes, so plans and values are untouched (oracle-pinned)
    hashed = shingles.select(
        "id",
        F.expr("cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)")
        .alias("_h"),
    )
    aggs = [
        F.expr(f"min(pmod({MINHASH_A[s]} * _h + {MINHASH_B[s]},"
               f" {MINHASH_P}))").alias(f"mh{s}")
        for s in range(num_hashes)
    ]
    return hashed.groupBy("id").agg(*aggs)


_SHINGLE_CHUNK = 512
# lambda variables bound by char_shingles_expr's SQL text
_SHINGLE_LAMBDA_VARS = frozenset({"j", "s", "i"})


def char_shingles_expr(norm: F.Column | str, k: int = 5) -> F.Column:
    """Distinct char k-shingle SET of a (pre-materialized!) normalized-text
    column as one expression — see shingle_df's note: the caller MUST bind
    the normalization into its own projection first, or Catalyst re-inlines
    the chain per array element (O(len²)). Pass the column NAME (str) for
    the cheap SQL-string construction path; a Column builds the identical
    tree via the Python API.

    CHUNKED construction: the naive ``transform(sequence(1, n),
    i -> substring(norm, i, k))`` is O(n²) per doc — Spark's
    ``UTF8String.substring`` scans from byte 0 to find the code-point
    offset, so shingling ONE 500 KB page took ~8 minutes (measured;
    sf-corpus docs are few hundred bytes, which hid it). Cutting the
    text into ``_SHINGLE_CHUNK``-position chunks first (each carrying
    k−1 lookahead bytes so no shingle is lost at a boundary) bounds
    every inner substring scan by the chunk length:
    O(n²/c + n·c) ≈ O(n·c) — the same 500 KB page shingles in ~1 s.
    The produced array (order and content) is IDENTICAL to the naive
    form, so signatures, buckets and every oracle stay bit-for-bit.

    A column NAME is taken literally (backticks in it are escaped). The
    SQL text binds lambda variables ``j``, ``s`` and ``i``, and Spark
    resolves a name inside a lambda to its variable first (backticks do
    not prevent it, and names match case-insensitively), so a column with
    one of those names takes the Column path instead.
    """
    if isinstance(norm, str) and norm.lower() in _SHINGLE_LAMBDA_VARS:
        norm = F.col(quote_ident(norm))
    if isinstance(norm, str):
        # SQL-string fast path (pass the column NAME): ONE py4j round-trip
        # for the whole chunked-shingle expression instead of ~40 Column/
        # lambda construction calls — built inside every timed rep of four
        # headline queries. The text mirrors the Column form node-for-node
        # (note 512.0D: a bare SQL decimal literal would parse as
        # DECIMAL(4,1) where F.lit(512.0) is a DOUBLE — the D suffix keeps
        # the division double); values oracle-pinned + equivalence-tested.
        c = _SHINGLE_CHUNK
        nm = quote_ident(norm)
        return F.expr(
            f"filter(CASE WHEN length({nm}) < {k} THEN array({nm}) "
            f"ELSE array_distinct(flatten(transform("
            f"transform(sequence(0, cast(ceil((length({nm}) - {k} + 1)"
            f" / {c}.0D) as int) - 1),"
            f" j -> substring({nm}, j * {c} + 1, {c + k - 1})),"
            f" s -> transform(sequence(1, least({c}, length(s) - {k} + 1)),"
            f" i -> substring(s, i, {k})))))"
            f" END, s -> s != '')"
        )
    c = _SHINGLE_CHUNK
    n_sh = F.length(norm) - k + 1
    n_chunks = F.ceil(n_sh / F.lit(float(c))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.substring(norm, j * c + 1, F.lit(c + k - 1)),
    )
    sh = F.when(
        F.length(norm) < k, F.array(norm)
    ).otherwise(
        F.array_distinct(F.flatten(F.transform(
            chunks,
            lambda s: F.transform(
                F.sequence(F.lit(1),
                           F.least(F.lit(c), F.length(s) - k + 1)),
                lambda i: F.substring(s, i, F.lit(k)),
            ),
        )))
    )
    return F.filter(sh, lambda s: s != "")


def shingle_arrays(df: DataFrame, id_col: str, text_col: str,
                   k: int = 5) -> DataFrame:
    """(id, shingles: array<string>) — the distinct char k-shingle SET per
    doc, kept map-side. ``shingle_df`` ≡ explode of this; docs whose
    normalized text is empty (no shingles) are dropped in both.

    This is the scale-path input for MinHash (``minhash_sig_expr``)
    and exact-Jaccard verification (`array_intersect` on two doc rows):
    neither needs one-row-per-shingle, so keeping the set as an array
    avoids the explode and the groupBy shuffle entirely.
    """
    # _norm in its own projection — see shingle_df note on inline re-eval
    normed = df.select(
        F.col(id_col).alias("id"),
        F.array_join(_norm_tokens(F.col(text_col)), " ").alias("_norm"),
    )
    arr = char_shingles_expr("_norm", k)
    # explode-of-one-element = generator barrier: without it Catalyst pushes
    # the size() filter through the projection, re-inlining the whole HOF
    # shingle chain into the Filter — measured 40× slower at sf0.1
    return (
        normed.select("id", F.explode(F.array(arr)).alias("shingles"))
        .where(F.size("shingles") > 0)
    )


def minhash_sig_expr(shingles: F.Column, num_hashes: int = 16) -> F.Column:
    """MinHash signature as ONE column expression (array<long> of running
    band minima) over a shingle-array column — the fusable form for
    map-only/streaming stages. min() is duplicate-invariant, so its values
    are bit-identical to ``minhash_signatures`` (asserted by test)."""
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"at most {len(MINHASH_A)} hashes supported")
    a_lit = F.array(*[F.lit(a) for a in MINHASH_A[:num_hashes]])
    b_lit = F.array(*[F.lit(b) for b in MINHASH_B[:num_hashes]])
    harr = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    return F.aggregate(
        harr,
        F.array_repeat(F.lit(MINHASH_P).cast("long"), num_hashes),
        lambda acc, h: F.transform(
            acc,
            lambda m, i: F.least(
                m,
                F.pmod(F.element_at(a_lit, i + F.lit(1)) * h
                       + F.element_at(b_lit, i + F.lit(1)),
                       F.lit(MINHASH_P)),
            ),
        ),
    )


def lsh_buckets(signatures: DataFrame, bands: int = 4,
                rows_per_band: int = 4) -> DataFrame:
    """Band the signature: bucket = md5("s=mh_s|..." in seed order) per band.

    Output: (id, band, bucket) — a narrow projection + explode, no shuffle.
    Docs sharing any bucket are near-dup candidates.
    """
    # SQL-string construction — see minhash_signatures' note; identical
    # Catalyst nodes, ONE py4j round-trip for the whole banding expression
    entries = []
    for b in range(bands):
        parts = ", ".join(
            f"concat('{s}=', cast(mh{s} as string))"
            for s in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        entries.append(f"struct({b} as band,"
                       f" md5(concat_ws('|', {parts})) as bucket)")
    return signatures.select(
        "id", F.expr(f"explode(array({', '.join(entries)}))").alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


# ---------------------------------------------------------------------------
# Skew control: salting + capping (north_rule explicit requirement)
# ---------------------------------------------------------------------------

def block_sizes(blocks: DataFrame, key_col: str = "block_key") -> DataFrame:
    return blocks.groupBy(key_col).agg(F.count("*").alias("block_size"))


def salt_blocks(blocks: DataFrame, key_col: str = "block_key",
                id_col: str = "id", cap: int = 1000,
                nsalt: int = 16) -> DataFrame:
    """Split oversized blocks into ``nsalt`` deterministic salt groups.

    Keys with size ≤ cap keep salt 0 (no recall loss); hub keys trade
    cross-salt recall for bounded pair counts — the reference's analogue is
    the ``max_size=30`` ball cap (spikex ``pipes/clusters.py:110``).
    """
    sizes = block_sizes(blocks, key_col)
    out = blocks.join(F.broadcast(sizes.where(F.col("block_size") > cap)),
                      key_col, "left")
    return out.withColumn(
        "salt",
        F.when(F.col("block_size").isNull(), F.lit(0)).otherwise(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(nsalt)).cast("int")
        ),
    ).drop("block_size")


def cap_blocks(blocks: DataFrame, key_col: str | list[str] = "block_key",
               id_col: str = "id", cap: int = 1000) -> DataFrame:
    """Deterministically keep the first ``cap`` members per key (by id).
    ``key_col`` may be a list for compound keys (e.g. LSH (band, bucket))."""
    keys = key_col if isinstance(key_col, list) else [key_col]
    # SQL-string construction (see minhash_signatures' note) — identical
    # WindowExpression (row_number's frame and asc-nulls-first order are
    # the defaults both ways)
    part = ", ".join(f"`{k}`" for k in keys)
    rn = F.expr(f"row_number() OVER (PARTITION BY {part}"
                f" ORDER BY `{id_col}`)")
    return (
        blocks.withColumn("_rn", rn)
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def capped_pair_explode(blocks: DataFrame,
                        key_col: str | list[str] = "block_key",
                        id_col: str = "id", cap: int = 1000,
                        carry: list[str] | None = None,
                        pair_filter=None) -> DataFrame:
    """(id_a, id_b) distinct pairs sharing ≥1 key, first ``cap`` members
    per key — the FUSED form of ``cap_blocks`` + key self-join.

    Row-identical to::

        capped = cap_blocks(blocks, key_col, id_col, cap)
        capped.self-join on key, id_a < id_b, distinct

    but one exchange cheaper and sort-free: the cap window and the
    member-list aggregation share the same hash partitioning (no second
    exchange), and pair enumeration happens MAP-SIDE from the per-key
    member array instead of a self-join that re-shuffles and re-sorts the
    member table twice. The member array is bounded at ``cap`` rows
    (≤ ~8KB per group) because it aggregates the POST-cap members — the
    spill-safe window takes the unbounded pre-cap groups, never
    collect_list. Pinned row-identical by test_r06_optimizations.

    ``carry``: extra NARROW per-member columns (e.g. a shingle count) to
    ride the member structs; pairs then emerge as
    (id_a, id_b, <c>_a..., <c>_b...) with no per-side join needed
    downstream. The distinct gains only functionally-dependent columns
    (each <c> is a function of its id), so the pair set is unchanged.
    ``pair_filter``: optional predicate over the emitted pair struct
    (fields id_a/id_b/<c>_a/<c>_b), applied INSIDE the enumeration —
    i.e. before the distinct, which a pair-function predicate commutes
    with. Both pinned by test_capped_pair_explode_carry_matches.
    """
    keys = key_col if isinstance(key_col, list) else [key_col]
    capped = cap_blocks(blocks, key_col=keys, id_col=id_col, cap=cap)
    if carry:
        # struct members sort by leading id (unique per key) — same
        # enumeration order as the plain-id path
        grouped = capped.groupBy(*keys).agg(
            F.sort_array(F.collect_list(F.struct(id_col, *carry)))
            .alias("_ids"))
        ids = F.col("_ids")

        def _mk(x, y):
            fields = [x[id_col].alias("id_a"), y[id_col].alias("id_b")]
            for c in carry:
                fields += [x[c].alias(f"{c}_a"), y[c].alias(f"{c}_b")]
            return F.struct(*fields)

        def _inner(x, i):
            sliced = F.slice(ids, i + F.lit(2),
                             F.greatest(F.size(ids) - i - F.lit(1), F.lit(0)))
            inner = F.transform(sliced, lambda y: _mk(x, y))
            return F.filter(inner, pair_filter) if pair_filter else inner

        pairs = F.flatten(F.transform(ids, _inner))
        out_cols = ["p.id_a", "p.id_b"] + [f"p.{c}_{s}"
                                           for c in carry for s in ("a", "b")]
        return (grouped.select(F.explode(pairs).alias("p"))
                .select(*out_cols).distinct())
    # collect_list order is not guaranteed even after the window sort —
    # sort_array restores it; ids are unique per key so the sorted array
    # IS the row_number order the cap used. SQL-string construction (see
    # minhash_signatures' note); identical Catalyst trees, pinned
    # row-identical to the self-join by test_r06_optimizations.
    grouped = capped.groupBy(*keys).agg(
        F.expr(f"sort_array(collect_list(`{id_col}`))").alias("_ids"))
    pairs = F.expr(
        "explode(flatten(transform(_ids,"
        " (x, i) -> transform("
        "slice(_ids, i + 2, greatest(size(_ids) - i - 1, 0)),"
        " y -> struct(x as id_a, y as id_b)))))")
    return (
        grouped.select(pairs.alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def mention_salience(mentions_df: DataFrame, doc_tokens_df: DataFrame,
                     id_col: str = "id", key_col: str = "key",
                     start_col: str = "start") -> DataFrame:
    """(id, key, n_mentions, first_start, salience, rank): per-document
    entity prominence over a mention table — the re-ranking signal
    entity linking wants beside commonness (global prior) and context
    relatedness (semantic fit): how OFTEN and how EARLY the surface
    occurs in THIS document.

    ``salience = 0.5·(n_mentions / doc_mentions)
               + 0.5·(1 − (first_start−1) / doc_tokens)`` — frequency
    share plus earliness, each a single division of exact counts
    (1-based starts; a key first mentioned at token 1 of the doc gets
    the full earliness term). Ranks per doc break ties on key.

    ``doc_tokens_df`` = (id, doc_tokens). Scale shape: one groupBy on
    (id, key) with map-side combine + one per-doc window — no joins
    beyond the broadcastable token-count lookup.
    """
    per = (mentions_df.groupBy(F.col(id_col).alias("id"),
                               F.col(key_col).alias("key"))
           .agg(F.count("*").alias("n_mentions"),
                F.min(start_col).alias("first_start")))
    tot = per.groupBy("id").agg(F.sum("n_mentions").alias("doc_mentions"))
    sal = F.round(
        F.lit(0.5) * (F.col("n_mentions")
                      / F.col("doc_mentions").cast("double"))
        + F.lit(0.5) * (F.lit(1.0) - (F.col("first_start") - F.lit(1))
                        / F.col("doc_tokens").cast("double")), 6)
    win = Window.partitionBy("id").orderBy(
        F.col("salience").desc(), F.col("key").asc())
    return (per.join(tot, "id")
            .join(doc_tokens_df.select(F.col(id_col).alias("id"),
                                       "doc_tokens"), "id")
            .select("id", "key", "n_mentions", "first_start",
                    sal.alias("salience"))
            .withColumn("rank", F.row_number().over(win)))
