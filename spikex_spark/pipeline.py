"""End-to-end ER pipeline: extract → block → score → cluster.

The flagship query (BASELINE.json north_rule). Composable: every stage is a
``DataFrame -> DataFrame`` transform, so Catalyst sees ONE logical plan and
can push filters/pruning across stage boundaries; the only Python stages are
the byte-identical extractor (fused into the dictionary scan on the
broadcast path) and the Jaro-Winkler scorer (both Arrow).

Two entry points:

* ``resolve_entities``   — title-key blocking over a `pages`-shaped table
  (url, text, ...) against a `titles` dimension; the reference-parity path.
  The titles are read once: one narrow probe collects their keys, and the
  broadcast dictionary scan emits block members (``10_mentions``) with no
  join afterwards (reference strategy (a), ``wikigraph.py:195-237``).
  Its one edge path is the star-collapsed edge set (``_star_edges``): the
  O(m²) per-block pair enumeration is built only for the pairwise view
  (``scored_pairs``), never for clustering.
* ``resolve_documents``  — self-contained blocking (token-key + optional
  MinHash/LSH channel) for a generic documents table with no title
  dimension; used by the driver correctness gate over
  /root/testdata documents.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import extract_stage
from .operators import blocking as B
from .operators import cc as CC
from .operators import pairs as P
from .operators import scoring as S
from .session import local_scratch, one_wave, plan_size_bytes

# shared curation-gate thresholds — the single source of truth for the
# batch funnel, the streaming funnel, and the spark-submit deployable
# (dist/run_pipeline.py); keep the contract queries and the CLI in
# lock-step (ADVICE r4: the deployable had silently drifted to 0.5/10)
CURATION_MIN_QUALITY = 0.6
CURATION_MIN_TOKENS = 20
CURATION_LANG = "en"
CURATION_BLOCK = 256

# temp ledger dirs created by the DEFAULT (ephemeral-ledgered) stage runner;
# removed at interpreter exit so repeated calls don't accumulate on disk
_EPHEMERAL_LEDGERS: list[str] = []


def _ephemeral_ledger_runner(spark):
    """Stage runner: ledgered/bucketed execution in a throwaway dir.

    The one-shot in-plan mode (all stages fused into one Catalyst plan with
    localCheckpoint barriers) stops scaling past ~8 cores on wide shuffles:
    every consumer of a checkpointed stage re-exchanges it. Writing the
    multi-consumer stages hash-bucketed + sorted (``lineage.run_stage``)
    feeds each consumer pre-partitioned, exchange-free — measured FASTER
    end-to-end at local[32] (BENCH_SCALING `8->32 strong pipeline LEDGERED`)
    and the scale-safe shape on a real cluster (each stage write is the
    Iceberg stage snapshot).

    Only the stages carrying a ``bucket_by`` hint (the multi-consumer ones,
    where the write buys exchange-free reads) are materialized; single-
    consumer stages stay fused — that's the performance sweet spot; a FULL
    per-stage ledger (resume after a mid-pipeline kill) is
    ``lineage.resolve_*_resumable``'s job over a persistent dir.
    """
    import atexit
    import os
    import shutil
    import tempfile

    from .lineage import run_stage

    # ephemeral ledgers are an EXECUTION layout (exchange-free consumer
    # reads), not durable state. WHERE they live matters for correctness,
    # not just speed: every executor must read the stage files back, so
    # node-local scratch is only valid in local[*] mode (one machine). On a
    # cluster the files go under the warehouse dir — shared storage, the
    # same place saveAsTable data lands — never an executor-local path.
    # In local mode prefer the fast scratch spark.local.dir already uses
    # (not /tmp: this sandbox's /tmp is the slow bursty block device).
    # The durable, resumable ledger is the caller-named dir in
    # lineage.resolve_*_resumable, which stays wherever the user put it
    # (cluster: Iceberg/object storage).
    if spark.sparkContext.master.startswith("local"):
        scratch = local_scratch()
        os.makedirs(scratch, exist_ok=True)
        led = tempfile.mkdtemp(prefix="er_stage_ledger_", dir=scratch)
    else:
        import uuid

        wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
        led = f"{wh}/_ephemeral_ledgers/{uuid.uuid4().hex}"
    if not _EPHEMERAL_LEDGERS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True)
                     for p in _EPHEMERAL_LEDGERS])
    _EPHEMERAL_LEDGERS.append(led)

    def run(name: str, build, **hints) -> DataFrame:
        if not hints.get("bucket_by"):
            return build()
        return run_stage(spark, led, name, build, input_fingerprint=led,
                         **hints)

    return run


def run_inplan(name: str, build, **hints) -> DataFrame:
    """Stage runner for single-plan execution: no materialization between
    stages (Catalyst sees the whole pipeline; localCheckpoint barriers
    only). The right mode for small inputs, where a parquet round-trip per
    stage costs more than recomputation."""
    return build()


def _auto_runner(inp: DataFrame, min_bytes: int):
    """Size-adaptive default execution mode (AQE-flavored, but decided from
    leaf statistics before execution): inputs under ``min_bytes`` run as one
    fused plan — the per-stage write + lineage jobs are pure overhead on a
    corpus that fits in a few partitions — while big inputs get the
    ephemeral bucketed-stage ledger, the layout that keeps scaling past ~8
    cores and mirrors cluster (Iceberg-snapshot) execution. Deterministic
    for a given input size."""
    if plan_size_bytes(inp) < min_bytes:
        return run_inplan
    return _ephemeral_ledger_runner(inp.sparkSession)


@dataclass(frozen=True)
class ERConfig:
    threshold: float = 0.75
    jw_weight: float = 0.5
    max_ngram: int = 4
    block_cap: int = 10_000
    nsalt: int = 16
    # dictionaries up to this many keys ship into the Arrow scan stage
    # (reference broadcast-trie strategy); larger ones use the n-gram join
    broadcast_keys_max: int = 2_000_000
    # inputs at least this big default to ephemeral bucketed-ledger
    # execution (_auto_runner); smaller ones run as one fused plan
    ledger_min_bytes: int = 256 << 20


# the layout of the 10_mentions stage: block members, one row per distinct
# (id, block_key, surface)
MEMBER_COLUMNS = ["id", "block_key", "surface"]


def _mentions(pages: DataFrame, titles: DataFrame, cfg: ERConfig,
              id_col: str, text_col: str) -> DataFrame:
    """(id, block_key, surface) block members of ``pages`` against the
    ``titles`` dictionary (a ``title`` column): each longest dictionary
    match, mapped to the clean keys of its titles (``B.block_members``).

    ONE narrow Arrow collect decides the strategy AND loads the dictionary:
    the per-title (full_key, clean_key) pairs, at most
    ``broadcast_keys_max + 1`` rows, so the titles are read once. A
    dictionary that fits (at most ``broadcast_keys_max`` titles and keys)
    becomes the driver-built key → block-key map (``B.block_key_map``),
    and the fused extract + scan emits block members directly
    (``B.members_broadcast``): no title-key table, no bridge join. A
    bigger one takes the n-gram join path and the bridge join."""
    # toArrow, not collect()/toPandas: py4j row collect serialized up to 2M
    # rows one at a time, and a pandas object column for millions of
    # strings costs seconds of pure driver time that to_pylist skips
    head = (B.title_key_pairs(titles)
            .limit(cfg.broadcast_keys_max + 1).toArrow())
    if head.num_rows <= cfg.broadcast_keys_max:
        key_map = B.block_key_map(head.column("full_key").to_pylist(),
                                  head.column("clean_key").to_pylist())
        if len(key_map) <= cfg.broadcast_keys_max:
            # FUSED extract+scan: raw text crosses the Arrow boundary once
            # (raw_ws tokenization ≡ extract(ws→_) + split, proven by test);
            # ids may repeat across rows, so dedup globally as
            # block_members does
            return B.members_broadcast(
                pages, key_map, id_col=id_col, text_col=text_col,
                max_n=cfg.max_ngram, raw_ws=True,
            ).dropDuplicates(MEMBER_COLUMNS)
    keys = B.title_keys(titles)
    extracted = extract_stage(pages.select(id_col, text_col), text_col)
    # broadcast_keys=False: this branch exists BECAUSE the dictionary exceeds
    # broadcast_keys_max — forcing F.broadcast() here would override AQE's
    # size check and OOM at wiki scale (~20M keys). The shuffle-join path's
    # first-token prefilter engages instead.
    return B.block_members(
        B.mentions(extracted, keys, id_col=id_col, text_col="extracted",
                   max_n=cfg.max_ngram, broadcast_keys=False),
        keys)


def _er_stage_results(pages: DataFrame, titles: DataFrame, cfg: ERConfig,
                      id_col: str, text_col: str, run,
                      prior_members: DataFrame | None = None
                      ) -> DataFrame:
    """Shared front half (block members → salted blocks) behind a
    ``run(name, build)`` hook: identity for the one-shot path,
    ``lineage.run_stage`` for the ledgered/resumable path — ONE definition
    of the flagship pipeline, two physical execution modes. Returns the
    salted blocks; clustering (``cluster_from_blocks``) and the pairwise
    view (``scored_pairs``) both start from them.

    ``10_mentions`` holds the block members (``MEMBER_COLUMNS``) from
    ``_mentions``; ``20_blocks`` salts them. A ledger whose COMPLETE
    ``10_mentions`` has another layout (the older per-mention
    ``(id, start, n, surface, key)`` rows) recomputes it.

    ``prior_members``: (id, block_key, surface) block members of an already
    resolved corpus (``lineage.resolve_entities_incremental``). Only
    ``pages`` are scanned; the prior members join the union BEFORE salting,
    because block sizes — hence salts and caps — change under the union."""
    members = run(
        "10_mentions",
        lambda: _mentions(pages.select(id_col, text_col), titles, cfg,
                          id_col, text_col),
        columns=MEMBER_COLUMNS,
    )

    def _blocks() -> DataFrame:
        union = (members if prior_members is None
                 else prior_members.unionByName(members))
        # blocks feed block_sizes, both sides of the pair self-join, and the
        # surface lookup — checkpoint the members once instead of
        # recomputing the whole extract→mention chain per consumer (the
        # ledgered runner additionally persists the salted result)
        return B.salt_blocks(
            union.localCheckpoint(),  # eager: lazy+AQE showed unstable re-plans
            cap=cfg.block_cap, nsalt=cfg.nsalt,
        )

    return run(
        "20_blocks",
        _blocks,
        # ledgered runs write this stage hash-bucketed + sorted so the
        # downstream window / pair self-join / size agg all read
        # pre-partitioned, pre-sorted data — no exchange per consumer
        bucket_by=["block_key"], sort_by=["block_key", "salt", "surface"],
    )


def _star_edges(blocks: DataFrame, cfg: ERConfig) -> DataFrame:
    """Connectivity-preserving edge reduction over salted blocks.

    Within one (block_key, salt) cell, docs sharing the SAME surface always
    match — score(s, s) = jw_weight·1 + (1-jw_weight)·1 = 1.0 ≥ threshold —
    so each (block_key, salt, surface) group collapses to a star on its
    min-id representative; cross-surface matches connect group
    representatives only (pair score depends only on the surface pair, so
    every member pair matches iff the rep pair does). Components equal the
    full per-pair enumeration's, with O(m + g²) edges per cell instead of
    O(m²) (g = distinct surfaces, typically 1-3). Same theorem as the
    er_pages contract path, whose oracle proves it hash-identical against
    full pair enumeration at sf0.01.

    Invariant required for exactness: every surface normalizes non-empty
    (guaranteed here — surfaces are dictionary-key matches), otherwise
    score(s, s) = 0.5·jacc would undercut thresholds > 0.5.
    """
    # ONE window shuffle instead of groupBy + join-back: every member row
    # learns its group rep in the same exchange, and `groups` derives from
    # the identical subplan so the exchange is reused, not recomputed
    from pyspark.sql import Window
    w = Window.partitionBy("block_key", "salt", "surface")
    # checkpoint the windowed frame: it feeds intra AND groups, and a
    # window SORT is not an exchange, so each consumer would re-sort the
    # full member table (measured ~2x the stage at 4.8M pages); on a
    # cluster this is the stage-ledger write
    bl = blocks.withColumn("rep", F.min("id").over(w)).localCheckpoint(eager=False)
    intra = (
        bl.where(F.col("id") != F.col("rep"))
        .select(F.col("id").alias("src"), F.col("rep").alias("dst"))
    )
    groups = (bl.select("block_key", "salt", "surface", "rep")
              .distinct().localCheckpoint(eager=False))
    ga = groups.select("block_key", "salt",
                       F.col("surface").alias("surface_a"),
                       F.col("rep").alias("id_a"))
    gb = groups.select("block_key", "salt",
                       F.col("surface").alias("surface_b"),
                       F.col("rep").alias("id_b"))
    gpairs = (
        ga.join(gb, ["block_key", "salt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "surface_a", "surface_b")
    )
    inter = (
        S.score_pairs(gpairs, jw_weight=cfg.jw_weight)
        .where(F.col("score") >= cfg.threshold)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # no distinct here: connected_components canonicalizes + dedups anyway
    return intra.unionByName(inter)


def resolve_entities(pages: DataFrame, titles: DataFrame,
                     cfg: ERConfig = ERConfig(),
                     id_col: str = "url", text_col: str = "text",
                     stage_runner=None) -> DataFrame:
    """(url, cluster_id, block_key, surface) — entity clusters over pages.

    Stages: ``10_mentions`` (block members, ``MEMBER_COLUMNS``) →
    ``20_blocks`` (salted) → ``30_star_edges`` → ``50_clusters``. The one edge path is the star-collapsed edge set
    (``_star_edges``), whose components equal those of the full per-block
    pair enumeration; that enumeration is never built here.

    ``stage_runner(name, build)``: optional per-stage execution hook (see
    ``lineage.resolve_entities_resumable``); default = size-adaptive
    (``_auto_runner``): fused single plan under ``cfg.ledger_min_bytes``,
    ephemeral bucketed-stage ledger above it.
    """
    run = stage_runner or _auto_runner(pages, cfg.ledger_min_bytes)
    blocks = _er_stage_results(pages, titles, cfg, id_col, text_col, run)
    all_ids = pages.select(F.col(id_col).alias("id"))
    return cluster_from_blocks(blocks, all_ids, cfg, run, id_col)


def cluster_from_blocks(blocks: DataFrame, all_ids: DataFrame,
                        cfg: ERConfig, run, id_col: str = "url") -> DataFrame:
    """The back half of the flagship pipeline (star edges → CC → best-key
    join), reusable over ANY salted block-membership table — the one-shot
    path, the ledgered path, and the incremental path
    (``lineage.resolve_entities_incremental``) all end here."""
    # ledger the REDUCED edge set (O(m+g²) per cell), never the O(m²) pair
    # enumeration — this is the stage a resumable run restarts from
    edges = run("30_star_edges", lambda: _star_edges(blocks, cfg))

    def _clusters() -> DataFrame:
        assign = CC.cluster_assignments(edges, all_ids)
        best = blocks.groupBy("id").agg(
            F.min("block_key").alias("block_key"),
            F.min("surface").alias("surface"),
        )
        return assign.join(best, "id", "left").select(
            F.col("id").alias(id_col), "cluster_id", "block_key", "surface"
        )

    return run("50_clusters", _clusters)


# The document pipelines' LSH shape and match threshold — ONE definition
# shared by the one-shot, ledgered and incremental runs (their equivalence
# proofs assume identical shingles, signatures, bands and cap); the DuckDB
# oracles in __spark_entry__.py mirror these values.
DOC_SHINGLE_K = 5
DOC_NUM_HASHES = 16
DOC_BANDS = 4
DOC_BUCKET_CAP = 1000
# JW sees the first DOC_NORM_PREFIX chars of the normalized text (JW is
# quadratic per pair — bounding the operand keeps the scorer O(1) per pair
# at 100 TB); token-Jaccard sees the full text
DOC_NORM_PREFIX = 64
DOC_THRESHOLD = 0.80


class _DocPrior(NamedTuple):
    """An already resolved corpus, as the incremental document run reads it
    from a COMPLETE ledger: its LSH buckets (10_buckets), its scored pairs
    (30_scores), its id set (40_clusters) and its documents' texts."""
    buckets: DataFrame
    scores: DataFrame
    ids: DataFrame
    docs: DataFrame


def _doc_stage_graph(docs: DataFrame, run, cfg: ERConfig = ERConfig(),
                     id_col: str = "doc_id", text_col: str = "text",
                     threshold: float = DOC_THRESHOLD,
                     shingle_k: int = DOC_SHINGLE_K,
                     prior: _DocPrior | None = None,
                     pairs_only: bool = False) -> DataFrame:
    """The document pipeline's ONE stage graph: buckets → pairs → scores →
    clusters behind a ``run(name, build, **hints)`` hook. Batch, resumable
    and incremental runs differ only by ``run`` and ``prior``;
    ``pairs_only`` stops after the pair stage (``doc_candidate_pairs``).

    ``prior`` extends an already resolved corpus: only ``docs`` are
    shingled/minhashed, and the prior enters at exactly three points — its
    buckets join 10_buckets, its scores are kept in 30_scores (only pairs
    touching a new doc are scored), and its ids join the CC id set.
    Exactness: LSH buckets are per-doc (union of bucket tables ≡ buckets of
    the union), and the deterministic id-cap can only DISPLACE larger ids
    when new members arrive, so every union-capped old-old pair already has
    a prior score. The result equals a run over old ∪ new (test-pinned).
    """
    def _buckets() -> DataFrame:
        sh = B.shingle_df(docs, id_col, text_col, k=shingle_k)
        sig = B.minhash_signatures(sh, num_hashes=DOC_NUM_HASHES)
        fresh = B.lsh_buckets(sig, bands=DOC_BANDS,
                              rows_per_band=DOC_NUM_HASHES // DOC_BANDS)
        return fresh if prior is None else prior.buckets.unionByName(fresh)

    buckets = run("10_buckets", _buckets,
                  bucket_by=["band", "bucket"],
                  sort_by=["band", "bucket", "id"])

    # FUSED cap + pair enumeration: one exchange on (band, bucket) shared by
    # the cap window and the member aggregation, pairs generated map-side.
    # It reads buckets ONCE, so the in-plan runner needs no checkpoint
    # barrier against double recompute, and under a ledgered runner the
    # bucketed (band, bucket) table read feeds the cap window + member agg
    # with no exchange at all. The cap is the LSH skew guard: buckets are
    # content-keyed, so a boilerplate page duplicated millions of times
    # lands its whole clone set in ONE bucket; each bucket keeps its first
    # DOC_BUCKET_CAP members by id (mirrored in the oracle's QUALIFY).
    pairs = run("20_pairs", lambda: B.capped_pair_explode(
        buckets, key_col=["band", "bucket"], id_col="id", cap=DOC_BUCKET_CAP))
    if pairs_only:
        return pairs

    def _scores() -> DataFrame:
        if prior is None:
            return score_doc_pairs(pairs, docs, cfg, id_col, text_col)
        # pairs already scored in the prior keep their scores; only pairs
        # touching a NEW doc are scored. The scoring input is EXPLICITLY
        # semi-joined to the fresh-pair participants first — Catalyst does
        # not prune the token/prefix projections through the join, so
        # without this every old doc would be re-tokenized each increment
        # (O(corpus) CPU instead of O(new))
        keep_old = prior.scores.join(pairs, ["id_a", "id_b"], "left_semi")
        fresh = pairs.join(prior.scores.select("id_a", "id_b"),
                           ["id_a", "id_b"], "left_anti").localCheckpoint()
        participants = (
            fresh.select(F.col("id_a").alias(id_col))
            .unionByName(fresh.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        texts = prior.docs.select(id_col, text_col).unionByName(
            docs.select(id_col, text_col))
        return keep_old.unionByName(score_doc_pairs(
            fresh, texts.join(participants, id_col, "left_semi"), cfg,
            id_col, text_col))

    scores = run("30_scores", _scores)

    def _clusters() -> DataFrame:
        edges = scores.where(F.col("score") >= threshold).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        ids = docs.select(F.col(id_col).alias("id"))
        if prior is not None:
            ids = prior.ids.unionByName(ids)
        # ids_unique: doc_id is this operator's identity contract — skip
        # the defensive distinct's exchange over the whole corpus. A union
        # with a prior keeps it: a re-crawled doc can be in both.
        assign = CC.cluster_assignments(edges, ids,
                                        ids_unique=prior is None)
        return assign.select(F.col("id").alias(id_col), "cluster_id")

    return run("40_clusters", _clusters)


def doc_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """MinHash/LSH near-dup candidate pairs over a generic documents table.

    (id_a, id_b) distinct pairs sharing ≥1 capped LSH bucket — the pair
    stage of ``resolve_documents``, built as one plan. Every step is
    reproducible in ANSI SQL (md5-based minhash) for the DuckDB oracle.
    """
    return _doc_stage_graph(docs, run_inplan, id_col=id_col,
                            text_col=text_col, pairs_only=True)


def doc_scored_pairs(docs: DataFrame, cfg: ERConfig = ERConfig(),
                     id_col: str = "doc_id", text_col: str = "text",
                     score_digits: int = 6) -> DataFrame:
    """Candidate pairs + combined similarity score."""
    pairs = doc_candidate_pairs(docs, id_col, text_col)
    return score_doc_pairs(pairs, docs, cfg, id_col, text_col, score_digits)


def score_doc_pairs(pairs: DataFrame, docs: DataFrame,
                    cfg: ERConfig = ERConfig(),
                    id_col: str = "doc_id", text_col: str = "text",
                    score_digits: int = 6) -> DataFrame:
    """Score an EXPLICIT (id_a, id_b) pair table against the docs' texts —
    the scoring half of ``doc_scored_pairs``, reusable by the incremental
    path (which scores only pairs touching new docs). ``docs`` is read only
    for the pair participants (the joins prune it)."""
    # precompute per-DOC scoring inputs once (token set + JW prefix), then
    # join them to the pair table — computing them per-pair inlines the whole
    # normalization chain into every pair row (measured 3-4× slower at sf0.1)
    texts = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(S._tokens(F.col(text_col))).alias("toks"),
        F.substring(S._norm(F.col(text_col)), 1, DOC_NORM_PREFIX).alias("n64"),
    )
    p = (
        pairs.join(
            texts.withColumnsRenamed({"id": "id_a", "toks": "toks_a", "n64": "n64_a"}),
            "id_a",
        ).join(
            texts.withColumnsRenamed({"id": "id_b", "toks": "toks_b", "n64": "n64_b"}),
            "id_b",
        )
    )
    # combine UNROUNDED components, round once — two-stage rounding lands on
    # exact decimal halves (e.g. 0.5*(x+y) of 6-decimal values) where Spark
    # (HALF_UP) and DuckDB disagree
    # one wave of JW Python tasks, sized by the PAIR table's estimate (the
    # joined plan's estimate multiplies its sides)
    scored = (
        one_wave(p, pairs)
        .withColumn("_jw", S.jw_fast(F.col("n64_a"), F.col("n64_b")))
        .withColumn("_jacc", S.token_jaccard_arrays(F.col("toks_a"), F.col("toks_b")))
        .withColumn(
            "score",
            F.round(F.lit(cfg.jw_weight) * F.col("_jw")
                    + F.lit(1.0 - cfg.jw_weight) * F.col("_jacc"), score_digits),
        )
    )
    return scored.select(
        "id_a", "id_b",
        F.round(F.col("_jw"), 6).alias("jw"),
        F.round(F.col("_jacc"), 6).alias("jacc"),
        "score",
    )


def resolve_documents(docs: DataFrame, cfg: ERConfig = ERConfig(),
                      id_col: str = "doc_id", text_col: str = "text",
                      threshold: float = DOC_THRESHOLD, stage_runner=None,
                      shingle_k: int = DOC_SHINGLE_K) -> DataFrame:
    """Flagship: (doc_id, cluster_id) near-dup clusters over documents.

    Staged (``_doc_stage_graph``: buckets → pairs → scores → clusters)
    behind the same ``stage_runner`` hook as ``resolve_entities``; default
    = size-adaptive (``_auto_runner``): above ``cfg.ledger_min_bytes`` the
    LSH bucket stage is written hash-bucketed on (band, bucket) so the pair
    stage reads it co-partitioned with no exchange.
    ``lineage.resolve_documents_resumable`` is this function over a
    persistent ledger dir.

    ``shingle_k`` at scale: the default 5-char shingles are right for the
    sf test corpora (and pinned by the DuckDB oracles), but at 10^7+
    pages minhash minima concentrate on universal 5-grams (" the ",
    boilerplate scaffolds), so signature collisions between UNRELATED
    pages stop being rare: the per-bucket cap still bounds each block,
    but the number of ~cap-sized blocks grows with corpus size (measured
    at 10M pages: 5-char shingles → thousands of capped mega-buckets,
    ~90 GB of pair shuffle; 13-char → linear pair volume). Production
    crawl-scale runs should use ``shingle_k≈13`` (the Lee et al.
    exact-substring / RefinedWeb-class granularity) — see
    ``tools/bench_scale_abs.py``.
    """
    run = stage_runner or _auto_runner(docs, cfg.ledger_min_bytes)
    return _doc_stage_graph(docs, run, cfg, id_col, text_col, threshold,
                            shingle_k)


def scored_pairs(pages: DataFrame, titles: DataFrame,
                 cfg: ERConfig = ERConfig(),
                 id_col: str = "url", text_col: str = "text") -> DataFrame:
    """The pairwise view (for the F1 gate): (id_a, id_b, block_key, score,
    is_match). Gold pairs join on (id_a, id_b). It enumerates every pair of
    each salted block — the O(m²) view clustering never builds."""
    blocks = _er_stage_results(pages, titles, cfg, id_col, text_col,
                               run_inplan)
    scored = S.score_pairs(P.candidate_pairs(blocks, salted=True),
                           jw_weight=cfg.jw_weight)
    return scored.withColumn("is_match", F.col("score") >= cfg.threshold)
