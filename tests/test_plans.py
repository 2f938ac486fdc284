"""Physical-plan assertions: the plans we'd want at 100 TB, verified.

Checks .explain output for: parquet filter/column pushdown, broadcast joins
on dimension tables, map-side partial aggregation, and absence of
whole-corpus Python row UDFs in native paths.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_and_column_pushdown(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters" in plan and "lang" in plan
    # column pruning: text (the wide column) must NOT be read
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema


def test_dimension_join_is_broadcast(spark):
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    q = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    assert "BroadcastHashJoin" in _plan(q)


def test_semi_and_anti_join_operators(spark):
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    semi = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    assert "LeftSemi" in _plan(semi)
    assert "LeftAnti" in _plan(anti)


def test_minhash_partial_aggregation(spark):
    from spikex_spark.operators import blocking as B
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = B.minhash_signatures(B.shingle_df(docs, "doc_id", "text"), 4)
    plan = _plan(sig)
    # two HashAggregates around one exchange = map-side partial agg
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan or "partial" in plan.lower()


def test_scored_pairs_broadcasts_small_side(spark):
    # score_pairs carries no static broadcast HINT (a forced broadcast of a
    # large distinct-surface side measured ~300MB at 4.8M pages) — AQE must
    # still pick a broadcast join AT RUNTIME when the side is tiny, so
    # assert on the final adaptive plan after execution
    from spikex_spark.operators import scoring as S
    pairs = spark.createDataFrame(
        [("a", "b", "k", "x y", "x z")],
        ["id_a", "id_b", "block_key", "surface_a", "surface_b"],
    )
    scored = S.score_pairs(pairs)
    scored.collect()
    final = scored._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final


def test_extract_native_stays_jvm(spark):
    from spikex_spark.extract import extract_native
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(extract_native(docs, "text"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "regexp_replace" in _optimized(extract_native(docs, "text"))


def test_er_pages_scored_udf_only_on_distinct_surfaces(spark):
    """The flagship hot-path fix: the Python JW UDF must run on the DISTINCT
    (surface_a, surface_b) side only (above an Aggregate), and the score
    table must broadcast-join back to the pair table — never a per-pair-row
    Python eval (was 85% of the r1 bench)."""
    import __spark_entry__ as E

    scored = E._er_pages_scored(spark, "/root/testdata/sf0.001")
    plan = _plan(scored)
    # exactly one Arrow Python eval in the whole plan
    assert plan.count("ArrowEvalPython") == 1, plan
    # join-back of the scored distinct surfaces is a broadcast
    assert "BroadcastHashJoin" in plan
    # the UDF sits downstream of the distinct aggregation, upstream of the
    # broadcast exchange feeding the join-back
    udf_pos = plan.index("ArrowEvalPython")
    assert "HashAggregate" in plan[udf_pos:], "UDF not above the distinct"


def test_er_pages_clusters_star_collapse_plan(spark):
    """The clusters path must NOT enumerate per-block pair cliques: no
    id_a<id_b self-join output feeding CC — edges come from the group star
    + rep-rep matches, with the surface-match join broadcast."""
    import __spark_entry__ as E

    df = E._q_er_pages_clusters(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # CC ran adaptively during construction (small graph -> driver
    # union-find), so the residual plan is the assignment join only — no
    # Python evals, no cartesian, and crucially no block self-join
    assert plan.count("ArrowEvalPython") <= 1
    assert "CartesianProduct" not in plan
    # the edge construction itself (pre-CC) must broadcast the surface
    # match table and keep one Arrow eval — assert on the pairs-path twin
    scored = E._er_pages_scored(spark, "/root/testdata/sf0.001")
    p2 = _plan(scored)
    assert "BroadcastHashJoin" in p2 and p2.count("ArrowEvalPython") == 1


def test_ann_paths_have_no_cartesian(spark):
    """LSH and IVF candidate generation must stay equi-join shaped."""
    import __spark_entry__ as E

    for q in ("ann_lsh_topk", "ann_ivf_topk", "embedding_near_dups"):
        plan = _plan(E.queries()[q](spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan, q


def test_bucketed_blocks_stage_consumers_are_exchange_free(spark, tmp_path):
    """The ledgered blocks stage is written hash-bucketed on block_key and
    per-bucket sorted — its three consumer shapes (size agg, salted window,
    pair self-join) must read pre-partitioned data with ZERO shuffle
    exchange (the localCheckpoint barrier it replaces re-shuffled for each
    of them; checkpoints drop outputPartitioning)."""
    from pyspark.sql import Window

    from spikex_spark.lineage import run_stage

    def build():
        return (spark.range(2000)
                .select(F.col("id"),
                        (F.col("id") % 37).cast("string").alias("block_key"),
                        (F.col("id") % 3).cast("int").alias("salt"),
                        (F.col("id") % 11).cast("string").alias("surface")))

    blocks = run_stage(spark, str(tmp_path / "led"), "20_blocks", build,
                       input_fingerprint="t", bucket_by=["block_key"],
                       num_buckets=8, sort_by=["block_key", "salt", "surface"])

    def shuffles(df) -> int:
        p = _plan(df)
        return p.count("Exchange") - p.count("BroadcastExchange") \
            - p.count("ReusedExchange")

    # consumer 1: block-size aggregation — partial+final merge in place
    assert shuffles(blocks.groupBy("block_key").count()) == 0
    # consumer 2: the star-collapse window (subset of bucket cols ok)
    w = Window.partitionBy("block_key", "salt", "surface")
    assert shuffles(blocks.withColumn("rep", F.min("id").over(w))) == 0
    # consumer 3: the pair self-join, forced to SMJ — co-partitioned scan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = blocks.select("block_key", F.col("id").alias("id_a"))
        right = blocks.select("block_key", F.col("id").alias("id_b"))
        j = left.join(right, "block_key").where(F.col("id_a") < F.col("id_b"))
        assert shuffles(j) == 0
        assert "SortMergeJoin" in _plan(j)
        # consumer 3b: the SALTED pair self-join — join keys (block_key,
        # salt) are a SUPERSET of the bucket columns; the session's
        # requireAllClusterKeysForCoPartition=false lets both sides reuse
        # the block_key bucketing instead of re-shuffling on both keys
        ls = blocks.select("block_key", "salt", F.col("id").alias("id_a"))
        rs = blocks.select("block_key", "salt", F.col("id").alias("id_b"))
        js = (ls.join(rs, ["block_key", "salt"])
              .where(F.col("id_a") < F.col("id_b")))
        assert shuffles(js) == 0, _plan(js)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # resume in the same session: read-back keeps the bucketed layout
    again = run_stage(spark, str(tmp_path / "led"), "20_blocks", build,
                      input_fingerprint="t", bucket_by=["block_key"],
                      num_buckets=8, sort_by=["block_key", "salt", "surface"])
    assert shuffles(again.groupBy("block_key").count()) == 0


def test_ledgered_doc_pair_join_reuses_bucketing(spark, tmp_path):
    """The documents pipeline's pair stage under a LEDGERED runner: the
    fused cap + pair explode must reuse the 10_buckets (band, bucket)
    bucketing — the only exchange left is its own final distinct(). A
    localCheckpoint slipped between the bucketed read and the pair stage
    would drop outputPartitioning and re-shuffle the buckets."""
    from spikex_spark.lineage import run_stage
    from spikex_spark.operators import blocking as B
    from spikex_spark.pipeline import DOC_BUCKET_CAP, _doc_stage_graph

    docs = spark.range(300).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.concat(F.lit("shared sample text number "),
                 (F.col("id") % 40).cast("string")).alias("text"))

    stages = {}

    def run(name, build, **hints):
        # ledger the bucketed stage, keep the pair stage as a plan
        stages[name] = (run_stage(spark, str(tmp_path / "led"), name, build,
                                  input_fingerprint="t", **hints)
                        if hints.get("bucket_by") else build())
        return stages[name]

    def shuffles(df) -> int:
        p = _plan(df)
        return p.count("Exchange") - p.count("BroadcastExchange") \
            - p.count("ReusedExchange")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = _doc_stage_graph(docs, run, pairs_only=True)
        assert shuffles(pairs) == 1, _plan(pairs)   # distinct() only
        # the anti-pattern this test pins against:
        chk = B.capped_pair_explode(stages["10_buckets"].localCheckpoint(),
                                    key_col=["band", "bucket"], id_col="id",
                                    cap=DOC_BUCKET_CAP)
        assert shuffles(chk) >= 2, _plan(chk)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_ephemeral_ledger_scratch_env_handling(spark, tmp_path, monkeypatch):
    """SPARK_LOCAL_DIRS is a comma-separated list — the ephemeral ledger
    must land under the FIRST entry, not a literal 'a,b' directory."""
    import os

    from spikex_spark import pipeline as P

    a, b = str(tmp_path / "scrA"), str(tmp_path / "scrB")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{a},{b}")
    run = P._ephemeral_ledger_runner(spark)
    led = P._EPHEMERAL_LEDGERS[-1]
    assert led.startswith(a + os.sep), led
    assert os.path.isdir(led)
    out = run("10_x", lambda: spark.range(5).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("k")),
        bucket_by=["k"], num_buckets=2)
    assert out.count() == 5
    # ephemeral ledgers record the write's own row counters too
    import json
    from spikex_spark import lineage
    meta = json.loads(lineage._lineage_path(led, "10_x").read_text())
    assert meta["status"] == "COMPLETE" and meta["rows"] == 5


def test_read_meta_sees_rewritten_table(spark, tmp_path):
    """``_READ_META`` keys on the table's mtime: a driver table rewritten
    with another schema inside one process is read with its new schema,
    not the cached one."""
    import __spark_entry__ as E

    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    for read in (E._read, E._read_rel):
        assert read(spark, sf, "t").columns == ["a"]
    (spark.range(3).selectExpr("id AS b", "'x' AS c")
     .write.mode("overwrite").parquet(path))
    for read in (E._read, E._read_rel):
        df = read(spark, sf, "t")
        assert df.columns == ["b", "c"]
        assert sorted(r["b"] for r in df.collect()) == [0, 1, 2]


def test_no_row_python_in_any_contract_query():
    """Sweep EVERY contract query's physical plan for BatchEvalPython —
    the row-at-a-time pickled-Python operator this repo bans. Python may
    appear only Arrow-batched (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas). Build-only: the invariant is visible in the
    pre-AQE physical plan, no execution needed (tools/explain_audit.py
    does the executed-plan version with codegen/pushdown checks).
    """
    import __spark_entry__ as entry
    from spikex_spark.session import get_spark

    spark = get_spark(master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4"})
    # cluster queries run CC convergence jobs AT BUILD (~12s each); their
    # Python stages are the same extract/score stages er_doc_pairs carries,
    # so skipping them here loses no plan surface
    skip = {"er_doc_clusters", "er_doc_clusters_incremental",
            "er_pages_clusters", "er_cluster_sizes",
            "dedup_canonical_docs",
            # run jobs at build too: global_rank's prefix collect /
            # resolve_documents' CC rounds / EM training aggregates
            "snm_candidates", "er_cluster_cohesion", "golden_records",
            "fs_em_params", "fs_em_posteriors", "matcher_logit_weights",
            "matcher_logit_scores", "matcher_logit_eval",
            "matcher_logit_auc", "matcher_logit_brier",
            # score the er_doc_clusters result -> same CC-at-build jobs
            "er_bcubed", "er_ari",
            # eager checkpoint of the scored-pair input runs at build
            "er_one_to_one", "er_collective_scores",
            "er_unsupported_edges",
            # consumes er_doc_clusters -> CC-at-build jobs
            "cluster_leakage_safe_split",
            # eager per-round checkpoints run the pivot rounds at build
            "er_correlation_clusters", "canopy_assign",
            "er_v2_multichannel_clusters",
            # corrclust checkpoints + CC-at-build on both inputs
            "er_method_agreement",
            # consumes er_doc_clusters -> CC-at-build jobs
            "entity_count_chao1", "golden_field_conflicts",
            "er_cluster_medoids", "entities_table",
            # CC-at-build over the kNN-pruned edges
            "er_knn_pruned_clusters",
            # er_doc_clusters + a second CC over the oversized subset
            "er_refined_clusters",
            # per-round eager checkpoints of the k-core peeling
            "er_kcore_members",
            # scores er_doc_clusters -> CC-at-build jobs
            "er_nmi"}
    offenders = {}
    for name, fn in entry.queries().items():
        if name in skip:
            continue
        plan = fn(spark, "/root/testdata/sf0.001")._jdf \
            .queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders[name] = plan
    assert not offenders, f"row-Python in: {sorted(offenders)}"
