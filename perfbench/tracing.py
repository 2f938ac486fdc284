"""Traced run: per-layer times and counters, measured from outside the
engine.

Each layer's input is materialised once (``localCheckpoint``); then the
layer's public function runs on it into Spark's ``noop`` sink inside a
span. Spans stay in memory and are written out when the run ends. Byte,
spill and CPU totals come from Spark's status REST API.

A layer a workload does not use gets an empty span, so its time reads as
the span's own cost (well under a millisecond) and its counters read 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

from workloads import digest

# spans that give the per-layer ``*_s`` metrics
LAYER_SPANS = {
    "extract.self_s": "extract",
    "blocking.mentions_s": "blocking.mentions",
    "blocking.salt_s": "blocking.salt",
    "blocking.minhash_s": "blocking.minhash",
    "blocking.pairs_s": "blocking.pairs",
    "scoring.self_s": "scoring",
    "cc.self_s": "cc",
    "lineage.write_s": "lineage.write",
    "lineage.read_s": "lineage.read",
}


class Tracer:
    """In-memory spans: name, parent, start and end (perf_counter s)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_seconds(self, name: str) -> float:
        """Summed duration of the spans called ``name``, minus the part of
        each that its child spans cover."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            children = sorted((c["start"], c["end"]) for c in self.spans
                              if c["parent"] == name
                              and s["start"] <= c["start"] <= s["end"])
            covered, edge = 0.0, s["start"]
            for a, b in children:
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            total += (s["end"] - s["start"]) - covered
        return total

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**meta, "spans": self.spans}, f, indent=1)


class StageTotals:
    """Stage metric totals per job group, from Spark's status REST API."""

    KEYS = ("shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
            "executorCpuTime")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self._sc = sc
        self._base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                      f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def totals(self, group: str) -> dict:
        # the REST store is fed by the listener bus; drain it so every job
        # and stage of the group is recorded before reading
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        stage_ids = {sid for j in self._get("/jobs")
                     if j.get("jobGroup") == group for sid in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] in stage_ids]
        return {k: sum(s.get(k, 0) or 0 for s in stages) for k in self.KEYS}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _cc_rounds(edges_in: int) -> int:
    """0 when ``connected_components`` takes its Arrow driver path (edges
    fit under ``SMALL_GRAPH_EDGES``); the distributed large-star/small-star
    path is never reached at these input sizes."""
    from spikex_spark.operators import cc as CC

    if edges_in > CC.SMALL_GRAPH_EDGES:
        raise RuntimeError(f"{edges_in} edges exceed the CC driver path; "
                           "the benchmark does not count distributed rounds")
    return 0


def _cc_layer(tr: Tracer, edges, ids, counts: dict, **kw):
    """Time ``cluster_assignments`` on materialised edges; returns its
    materialised output."""
    from pyspark.sql import functions as F

    from spikex_spark.operators import cc as CC

    with tr.span("cc"):
        noop(CC.cluster_assignments(edges, ids, **kw))
    out = CC.cluster_assignments(edges, ids, **kw).localCheckpoint()
    counts["cc.edges_in"] = edges.count()
    counts["cc.components"] = out.select(F.countDistinct("cluster_id")) \
        .first()[0]
    counts["cc.rounds"] = _cc_rounds(counts["cc.edges_in"])
    return out


def entity_link_pass(wl, spark, tr: Tracer) -> tuple[dict, str]:
    """Layers of ``resolve_entities``. The pipeline runs with a stage
    runner that times each of its stages and hands the next stage a
    materialised input; extract, scoring and cc are then timed alone on
    materialised inputs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spikex_spark.extract import extract_stage
    from spikex_spark.operators import blocking as B
    from spikex_spark.operators import scoring as S
    from spikex_spark.pipeline import ERConfig, resolve_entities

    cfg = ERConfig()
    counts: dict = {}
    pages = (spark.read.parquet(wl.paths["pages"]).select("url", "text")
             .localCheckpoint())
    titles = spark.read.parquet(wl.paths["titles"]).localCheckpoint()
    with tr.span("extract"):
        noop(extract_stage(pages, "text"))

    stage_span = {"10_mentions": "blocking.mentions",
                  "20_blocks": "blocking.salt"}
    stages = {}

    def runner(name, build, **hints):
        if name in stage_span:
            with tr.span(stage_span[name]):
                noop(build())
        stages[name] = build().localCheckpoint()
        return stages[name]

    result = resolve_entities(pages, titles, stage_runner=runner).toArrow()
    counts["blocking.mentions_out"] = stages["10_mentions"].count()
    blocks = stages["20_blocks"]
    counts["blocking.members_out"] = blocks.count()
    sizes = B.block_sizes(blocks).localCheckpoint()
    counts["blocking.max_block_size"] = sizes.agg(F.max("block_size")) \
        .first()[0]
    counts["blocking.salted_keys"] = sizes.where(
        F.col("block_size") > cfg.block_cap).count()

    # the star-collapsed path scores one representative per (block_key,
    # salt, surface) group against the others of its cell, as
    # pipeline._star_edges does
    reps = (blocks.withColumn(
        "rep", F.min("id").over(Window.partitionBy("block_key", "salt",
                                                   "surface")))
            .select("block_key", "salt", "surface", "rep").distinct())
    rep_pairs = (
        reps.select("block_key", "salt", F.col("surface").alias("surface_a"),
                    F.col("rep").alias("id_a"))
        .join(reps.select("block_key", "salt",
                          F.col("surface").alias("surface_b"),
                          F.col("rep").alias("id_b")), ["block_key", "salt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "surface_a", "surface_b")
        .localCheckpoint())
    with tr.span("scoring"):
        noop(S.score_pairs(rep_pairs, jw_weight=cfg.jw_weight))
    scored = S.score_pairs(rep_pairs, jw_weight=cfg.jw_weight)
    counts["scoring.pairs_scored"] = rep_pairs.count()
    counts["scoring.matches"] = scored.where(
        F.col("score") >= cfg.threshold).count()

    _cc_layer(tr, stages["30_star_edges"],
              pages.select(F.col("url").alias("id")), counts)
    return counts, digest(result, "url")


def incremental_pass(wl, spark, tr: Tracer) -> tuple[dict, str]:
    """Layers of ``resolve_documents_incremental``, rebuilt stage by stage
    from the same public functions and constants (k=5 shingles, 16 hashes
    in 4 bands, ``DOC_BUCKET_CAP``, threshold 0.80); the ledger write times
    ``run_stage`` on each materialised stage output."""
    from pyspark.sql import functions as F

    from spikex_spark.lineage import run_stage
    from spikex_spark.operators import blocking as B
    from spikex_spark.pipeline import DOC_BUCKET_CAP, score_doc_pairs

    threshold = 0.80
    counts: dict = {}
    base = spark.read.parquet(wl.paths["base"]).localCheckpoint()
    inc = spark.read.parquet(wl.paths["increment"]).localCheckpoint()
    docs = base.unionByName(inc)

    def ledger_stage(stage):
        return spark.read.parquet(os.path.join(wl.base_ledger, stage, "data"))

    with tr.span("lineage.read"):
        for stage in ("10_buckets", "30_scores", "40_clusters"):
            noop(ledger_stage(stage))
    old_buckets = ledger_stage("10_buckets").localCheckpoint()
    old_scores = ledger_stage("30_scores").localCheckpoint()

    def new_buckets():
        sh = B.shingle_df(inc, "doc_id", "text", k=5)
        return B.lsh_buckets(B.minhash_signatures(sh, num_hashes=16),
                             bands=4, rows_per_band=4)

    with tr.span("blocking.minhash"):
        noop(new_buckets())
    fresh_buckets = new_buckets().localCheckpoint()
    counts["blocking.lsh_rows"] = fresh_buckets.count()
    buckets = old_buckets.unionByName(fresh_buckets).localCheckpoint()

    def capped_pairs():
        return B.capped_pair_explode(buckets, key_col=["band", "bucket"],
                                     id_col="id", cap=DOC_BUCKET_CAP)

    with tr.span("blocking.pairs"):
        noop(capped_pairs())
    pairs = capped_pairs().localCheckpoint()
    counts["blocking.candidate_pairs"] = pairs.count()
    counts["blocking.capped_buckets"] = (
        buckets.groupBy("band", "bucket").count()
        .where(F.col("count") >= 2).count())

    # only pairs touching the increment are scored; their participants'
    # texts are the scoring input
    fresh = pairs.join(old_scores.select("id_a", "id_b"), ["id_a", "id_b"],
                       "left_anti").localCheckpoint()
    participants = (fresh.select(F.col("id_a").alias("doc_id"))
                    .unionByName(fresh.select(F.col("id_b").alias("doc_id")))
                    .distinct())
    docs_part = docs.join(participants, "doc_id", "left_semi") \
        .localCheckpoint()
    with tr.span("scoring"):
        noop(score_doc_pairs(fresh, docs_part))
    fresh_scored = score_doc_pairs(fresh, docs_part).localCheckpoint()
    counts["scoring.pairs_scored"] = fresh.count()
    counts["scoring.matches"] = fresh_scored.where(
        F.col("score") >= threshold).count()
    scores = (old_scores.join(pairs, ["id_a", "id_b"], "left_semi")
              .unionByName(fresh_scored).localCheckpoint())

    edges = scores.where(F.col("score") >= threshold).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")) \
        .localCheckpoint()
    clusters = _cc_layer(tr, edges, docs.select(F.col("doc_id").alias("id")),
                         counts, ids_unique=True) \
        .select(F.col("id").alias("doc_id"), "cluster_id")

    ledger = wl.new_ledger()
    with tr.span("lineage.write"):
        run_stage(spark, ledger, "10_buckets", lambda: buckets,
                  input_fingerprint="trace", bucket_by=["band", "bucket"],
                  sort_by=["band", "bucket", "id"])
        for stage, df in (("20_pairs", pairs), ("30_scores", scores),
                          ("40_clusters", clusters)):
            run_stage(spark, ledger, stage, lambda df=df: df,
                      input_fingerprint="trace")
    counts["lineage.bytes_written"] = _dir_bytes(ledger)
    counts["lineage.write_amplification"] = (
        counts["lineage.bytes_written"] / _dir_bytes(wl.paths["increment"]))
    return counts, digest(clusters.toArrow(), "doc_id")


PASSES = {"entity-link": entity_link_pass, "incremental": incremental_pass}


def traced_run(wl, spark, seconds: float, ref_digest: str,
               trace_path: str) -> tuple[dict, list[str]]:
    """Untraced runs for about half of ``seconds``, at least one (build
    time, REST totals and the base of the tracing overhead), then one
    traced pass. Returns (per-layer metrics, errors)."""
    sc = spark.sparkContext
    rest = StageTotals(spark)
    run_s, build_s, errors = [], [], []
    t_begin = time.perf_counter()
    while not run_s or time.perf_counter() - t_begin < seconds / 2:
        group = f"perfbench-run-{len(run_s)}"
        sc.setJobGroup(group, "untraced end-to-end run")
        t0 = time.perf_counter()
        df = wl.build()
        t1 = time.perf_counter()
        out = df.toArrow()
        run_s.append(time.perf_counter() - t0)
        build_s.append(t1 - t0)
        wl.after_run()
        if digest(out, wl.id_col) != ref_digest:
            errors.append("untraced run in the traced invocation gave "
                          "another result")
    totals = rest.totals(group)

    sc.setJobGroup("perfbench-trace", "traced pass")
    tr = Tracer()
    with tr.span("trace"):
        counts, traced_digest = PASSES[wl.name](wl, spark, tr)
    wl.after_run()
    if traced_digest != ref_digest:
        errors.append("traced pass gave another result than the pipeline")
    for span in LAYER_SPANS.values():
        if not any(s["name"] == span for s in tr.spans):
            with tr.span(span):
                pass

    metrics = {m: tr.self_seconds(span) for m, span in LAYER_SPANS.items()}
    metrics.update({
        "blocking.mentions_out": 0, "blocking.members_out": 0,
        "blocking.max_block_size": 0, "blocking.salted_keys": 0,
        "blocking.lsh_rows": 0, "blocking.capped_buckets": 0,
        "blocking.candidate_pairs": 0,
        "lineage.bytes_written": 0, "lineage.write_amplification": 0.0,
    })
    matches = counts.pop("scoring.matches")
    metrics.update(counts)
    metrics["scoring.match_ratio"] = (
        matches / counts["scoring.pairs_scored"]
        if counts["scoring.pairs_scored"] else 0.0)
    metrics.update({
        "pipeline.build_s": statistics.median(build_s),
        "pipeline.shuffle_write_bytes": totals["shuffleWriteBytes"],
        "pipeline.spill_bytes": (totals["memoryBytesSpilled"]
                                 + totals["diskBytesSpilled"]),
        "pipeline.executor_cpu_s": totals["executorCpuTime"] / 1e9,
        "trace.overhead_s": (tr.duration("trace")
                             - statistics.median(run_s)),
    })
    tr.dump(trace_path, {"workload": wl.name, "untraced_run_s": run_s,
                         "counts": counts})
    return metrics, errors
