"""The pipelines' fixed per-job and per-task costs: the stage ledger's
lineage evidence and schema come without Spark jobs of their own, the
entity pipeline reads its titles in one job, and Arrow-Python stages run in
one wave of tasks."""

from __future__ import annotations

import json

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F



def _docs(spark, tmp_path):
    """240 documents in 60 near-duplicate families of four (each copy has
    one word changed), so LSH pairs straddle any doc_id split. Read from
    parquet, as a crawl would be, so Catalyst knows their size."""
    import random

    rng = random.Random(3)
    words = [f"w{i}" for i in range(300)]
    bases = [[rng.choice(words) for _ in range(40)] for _ in range(60)]
    rows = []
    for i in range(240):
        toks = list(bases[i % 60])
        toks[rng.randrange(40)] = rng.choice(words)
        rows.append((i, " ".join(toks)))
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


def _tagged_jobs(spark, tag: str) -> list:
    """(job id, name) of every job that ran under ``tag``."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    return [(j, store.job(j).name())
            for j in sorted(jsc.statusTracker().getJobIdsForTag(tag))]


def _stage_rows(spark, ledger: str, stage: str) -> int:
    from spikex_spark import lineage

    return spark.read.parquet(lineage._data_path(ledger, stage)).count()


def test_incremental_run_has_no_schema_or_counter_jobs(spark, tmp_path):
    """One resolve_documents_incremental call, found through a job tag:
    no parquet schema-inference job and no lineage counter job runs, yet
    every stage's _lineage.json rows (bucketed and plain) equal the rows
    the stage holds."""
    from spikex_spark import lineage

    full = _docs(spark, tmp_path)
    old, new = full.where("doc_id % 5 != 0"), full.where("doc_id % 5 = 0")
    led_old, led_new = str(tmp_path / "old"), str(tmp_path / "new")
    lineage.resolve_documents_resumable(spark, old, led_old,
                                        fingerprint="v0")
    sc = spark.sparkContext
    sc.addJobTag("budget")
    try:
        lineage.resolve_documents_incremental(spark, new, old, led_old,
                                              led_new, fingerprint="v1")
    finally:
        sc.removeJobTag("budget")
    jobs = _tagged_jobs(spark, "budget")
    assert jobs
    # a schema-inference job is named after the read call, `parquet at`;
    # the old counters were a `collect` called from lineage.py
    assert not [n for _, n in jobs if n.startswith("parquet at")], jobs
    assert not [n for _, n in jobs if "lineage.py" in n], jobs

    metas = {m["stage"]: m for m in lineage.ledger_summary(led_new)}
    assert set(metas) == {"10_buckets", "20_pairs", "30_scores",
                          "40_clusters"}
    assert metas["10_buckets"]["bucket_by"]
    for stage, meta in metas.items():
        assert meta["rows"] == _stage_rows(spark, led_new, stage), stage
        assert sum(p["rows"] for p in meta["partitions"]) == meta["rows"]
        assert meta["schema_ddl"]


# jobs of one warm in-plan resolve_entities run over the synth fixture,
# result collect included (24 before the dictionary scan emitted block
# members: 9 of them read the titles)
ENTITY_RUN_JOBS = 17


def _jobs_reading(spark, jobs: list, read_schema: str) -> list:
    """The ``jobs`` of SQL executions whose plan scans a file table with
    ``read_schema``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        ids = ex.jobs().keys().toSeq()
        ex_jobs = {ids.apply(j) for j in range(ids.size())}
        if (ex_jobs & set(jobs)
                and f"ReadSchema: {read_schema}" in
                ex.physicalPlanDescription()):
            out += sorted(ex_jobs & set(jobs))
    return out


def test_entity_run_job_budget(spark, tmp_path):
    """One warm in-plan resolve_entities run: at most ENTITY_RUN_JOBS
    Spark jobs, and exactly one of them (the dictionary probe) reads the
    titles table."""
    from spikex_spark import synth
    from spikex_spark.pipeline import resolve_entities, run_inplan

    # one file each: the input partitioning, and with it how AQE splits
    # the run into jobs, does not follow the machine's task slots
    spark.createDataFrame(synth.gen_pages(120)).coalesce(1).write.parquet(
        str(tmp_path / "pages"))
    spark.createDataFrame(synth.gen_titles()).coalesce(1).write.parquet(
        str(tmp_path / "titles"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    titles = spark.read.parquet(str(tmp_path / "titles"))
    want = resolve_entities(pages, titles, stage_runner=run_inplan).toArrow()
    sc = spark.sparkContext
    sc.addJobTag("entity-budget")
    try:
        got = resolve_entities(pages, titles,
                               stage_runner=run_inplan).toArrow()
    finally:
        sc.removeJobTag("entity-budget")
    jobs = _tagged_jobs(spark, "entity-budget")
    assert 0 < len(jobs) <= ENTITY_RUN_JOBS, jobs
    assert len(_jobs_reading(spark, [j for j, _ in jobs],
                             "struct<title:string>")) == 1
    assert got.sort_by("url").equals(want.sort_by("url"))


def test_empty_stage_records_zero_rows(spark, tmp_path):
    """An empty stage with counters on records rows 0, not null."""
    from spikex_spark import lineage

    ledger = str(tmp_path / "led")
    out = lineage.run_stage(spark, ledger, "10_empty",
                            lambda: spark.range(10).where("id < 0"),
                            input_fingerprint="e")
    assert out.count() == 0
    meta = lineage.ledger_summary(ledger)[0]
    assert meta["rows"] == 0
    assert all(p["rows"] == 0 for p in meta["partitions"])


def test_stage_read_back_uses_stored_schema(spark, tmp_path):
    """Resuming a plain stage reads it with the stored schema, so no
    schema-inference job runs; the read-back equals the written rows."""
    from spikex_spark import lineage

    ledger = str(tmp_path / "led")

    def build():
        return spark.range(50).select(
            F.col("id"), F.array(F.col("id").cast("string")).alias("a"),
            F.struct(F.col("id").alias("x y")).alias("s"))

    lineage.run_stage(spark, ledger, "10_s", build, input_fingerprint="s")
    sc = spark.sparkContext
    sc.addJobTag("readback")
    try:
        again = lineage.run_stage(spark, ledger, "10_s", build,
                                  input_fingerprint="s")
    finally:
        sc.removeJobTag("readback")
    assert _tagged_jobs(spark, "readback") == []
    assert again.schema.simpleString() == build().schema.simpleString()
    assert sorted(again.collect()) == sorted(build().collect())


def test_ledger_dir_with_quote_and_odd_column_names(spark, tmp_path):
    """A bucketed stage under a ledger dir holding a quote, with bucket and
    sort columns that need quoting, re-registers from a fresh catalog."""
    from spikex_spark import lineage

    ledger = str(tmp_path / "it's a ledger")

    def build():
        return spark.range(40).select(
            F.col("id").alias("my id"),
            (F.col("id") % 3).cast("string").alias("k`ey"))

    lineage.run_stage(spark, ledger, "10_b", build, input_fingerprint="q",
                      bucket_by=["k`ey"], num_buckets=4,
                      sort_by=["k`ey", "my id"])
    spark.sql("DROP TABLE IF EXISTS "
              f"`{lineage._table_name(ledger, '10_b')}`")
    again = lineage.run_stage(spark, ledger, "10_b", build,
                              input_fingerprint="q", bucket_by=["k`ey"])
    assert sorted(again.collect()) == sorted(build().collect())


def test_small_bucketed_stage_writes_one_wave_of_buckets(spark, tmp_path):
    """A bucketed stage without an explicit bucket count gets one wave of
    write tasks for a small input; an explicit count is kept."""
    from spikex_spark import lineage
    from spikex_spark.session import task_slots

    ledger = str(tmp_path / "led")

    def build():
        return spark.range(2000).select(
            F.col("id"), (F.col("id") % 97).cast("string").alias("k"))

    lineage.run_stage(spark, ledger, "10_auto", build,
                      input_fingerprint="a", bucket_by=["k"])
    lineage.run_stage(spark, ledger, "20_fixed", build,
                      input_fingerprint="a", bucket_by=["k"],
                      num_buckets=8)
    metas = {m["stage"]: m for m in lineage.ledger_summary(ledger)}
    assert metas["10_auto"]["num_buckets"] == min(lineage.MAX_BUCKETS,
                                                  task_slots(spark))
    assert len(metas["10_auto"]["partitions"]) == \
        metas["10_auto"]["num_buckets"]
    assert metas["20_fixed"]["num_buckets"] == 8


def test_old_ledger_without_schema_ddl_still_extends(spark, tmp_path):
    """A ledger written before schema_ddl was stored for plain stages
    falls back to schema inference and still extends to the full-run
    result."""
    from spikex_spark import lineage
    from spikex_spark.pipeline import resolve_documents

    full = _docs(spark, tmp_path)
    old, new = full.where("doc_id % 5 != 0"), full.where("doc_id % 5 = 0")
    led_old, led_new = str(tmp_path / "old"), str(tmp_path / "new")
    lineage.resolve_documents_resumable(spark, old, led_old,
                                        fingerprint="v0")
    for stage in ("20_pairs", "30_scores", "40_clusters"):
        p = lineage._lineage_path(led_old, stage)
        meta = json.loads(p.read_text())
        del meta["schema_ddl"]
        p.write_text(json.dumps(meta))
    inc = lineage.resolve_documents_incremental(spark, new, old, led_old,
                                                led_new, fingerprint="v1")
    key = lambda df: {(r["doc_id"], r["cluster_id"]) for r in df.collect()}
    assert key(inc) == key(resolve_documents(full))


def _arrow_input(df) -> str:
    """The physical plan below the first ArrowEvalPython node."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan[plan.index("ArrowEvalPython"):]


def test_one_wave_small_input_runs_in_slots_tasks(spark):
    from spikex_spark.session import one_wave, task_slots

    slots = task_slots(spark)
    wide = spark.range(0, 1000, 1, 32)
    assert one_wave(wide, wide).rdd.getNumPartitions() <= slots


def test_one_wave_large_estimate_keeps_width(spark):
    from spikex_spark.session import one_wave, plan_size_bytes

    wide = spark.range(0, 1000, 1, 32)
    # a cross join's estimate multiplies its sides: ~10^13 bytes here
    huge = spark.range(10 ** 6).crossJoin(spark.range(10 ** 6))
    assert plan_size_bytes(huge) > 1 << 40
    assert one_wave(wide, huge) is wide


def test_doc_scoring_python_stage_is_one_wave(spark, tmp_path, monkeypatch):
    """score_doc_pairs merges its Arrow-Python (Jaro-Winkler) input to at
    most the task slots for a small pair table."""
    import re

    from spikex_spark import pipeline
    from spikex_spark.session import task_slots

    docs = _docs(spark, tmp_path)
    pairs = pipeline.doc_candidate_pairs(docs).localCheckpoint()
    scored = pipeline.score_doc_pairs(pairs, docs)
    m = re.search(r"Coalesce (\d+)", _arrow_input(scored))
    assert m and int(m.group(1)) <= task_slots(spark), _arrow_input(scored)
    # the merge changes nothing but the task count
    monkeypatch.setattr(pipeline, "one_wave", lambda df, driving: df)
    want = pipeline.score_doc_pairs(pairs, docs)
    assert "Coalesce" not in _arrow_input(want)
    assert sorted(scored.collect()) == sorted(want.collect())


@pytest.mark.parametrize("master,local", [("local[4]", True),
                                          ("local[*]", True),
                                          ("spark://head:7077", False),
                                          ("yarn", False)])
def test_session_defaults_only_for_local_masters(monkeypatch, master, local):
    from spikex_spark import session

    for var in ("SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS",
                "SPARK_DRIVER_JAVA_OPTS"):
        monkeypatch.delenv(var, raising=False)
    conf = session.session_conf(master)
    if local:
        assert conf["spark.driver.memory"] == session.local_driver_heap()
        assert conf["spark.local.dir"].startswith("/dev/shm")
    else:
        assert "spark.driver.memory" not in conf
        assert "spark.local.dir" not in conf
        assert "/dev/shm" not in conf["spark.driver.extraJavaOptions"]
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.session_conf(master)["spark.driver.memory"] == "3g"


def test_local_driver_heap_follows_machine_memory():
    from spikex_spark.session import local_driver_heap

    gib = 1 << 30
    assert local_driver_heap(15 * gib) == "7g"
    assert local_driver_heap(1024 * gib) == "48g"
    assert local_driver_heap(gib) == "1g"


@settings(max_examples=40, deadline=None)
@given(value=st.text(min_size=1, max_size=12))
@example(value="it's")
@example(value="a\\'b")
@example(value="\\")
@example(value="k`ey")
def test_sql_quoting_round_trips(spark, value):
    """Any string survives as a SQL literal and as a quoted identifier."""
    from spikex_spark.sqlquote import quote_ident, sql_string

    assert spark.sql(f"SELECT {sql_string(value)} AS v").first()[0] == value
    named = spark.range(1).select(F.lit(7).alias(value))
    assert named.selectExpr(quote_ident(value)).first()[0] == 7
