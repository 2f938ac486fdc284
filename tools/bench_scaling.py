"""Two-parallelism-level scaling evidence (north_rule: N vs 4N executors).

Runs the SAME job at two ``local[N]`` levels on the SAME deterministic input
and reports throughput at both + scaling efficiency. Three workloads:

* ``pipeline`` — end-to-end flagship ER (extract → block → score → cluster)
  over the scaled synthetic pages corpus (gen_pages_scaled: entity count
  grows with n, cluster size fixed — the realistic web-corpus shape).
* ``scoring``  — the compute-bound pairwise-scoring kernel (Arrow JW UDF),
  cache-resident: isolates CPU scaling from the sandbox's memory-bandwidth
  ceiling.
* ``machine``  — calibration: raw CPU (md5 loop) and memory bandwidth
  (numpy stream) at both levels, so the report separates what the ENGINE
  does from what the BOX can do.

Usage: python tools/bench_scaling.py [n_low n_high] [--pages N] [--pairs N]
Writes one JSON line per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNNER = r"""
import time, sys, json
sys.path.insert(0, {repo!r})
from spikex_spark.session import get_spark
from pyspark.sql import functions as F
from pyspark.sql import types as T

workload, master, size = sys.argv[1], sys.argv[2], int(sys.argv[3])
# UI on: the REST status API is where per-stage shuffle/spill byte metrics
# live (uiWebUrl reports the actually-bound port)
spark = get_spark(master=master, app_name=f"scaling_{{workload}}",
                  extra_conf={{"spark.ui.enabled": "true"}})


def _stage_totals():
    import urllib.request
    base = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{{base}}/api/v1/applications"))
    appid = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{{base}}/api/v1/applications/{{appid}}/stages?status=complete"))
    # executorRunTime/CpuTime (ms): work-inflation evidence — the SAME job
    # on the SAME input costing more total cycles at a higher level is
    # hardware contention (shared memory bus / SMT), not engine
    # serialization; the scaling report divides these across levels
    keys = ("shuffleWriteBytes", "shuffleReadBytes", "inputBytes",
            "outputBytes", "memoryBytesSpilled", "diskBytesSpilled",
            "executorRunTime", "executorCpuTime")
    return {{k: sum(s.get(k, 0) or 0 for s in stages) for k in keys}}

if workload == "pipeline":
    from spikex_spark import synth
    from spikex_spark.pipeline import resolve_entities, ERConfig
    # distributed corpus synthesis (spark.range + expressions): multi-million
    # page runs cost seconds to build, so the timed job dominates overhead
    pages_full, titles = synth.gen_pages_scaled_df(spark, size,
                                                   pages_per_entity=4)
    # persist the corpus to parquet and re-read: a cluster job's input is a
    # file-backed table with REAL size statistics. Catalyst estimates the
    # synthetic range plan at 24 bytes/row (~7 MB for 300k pages vs ~400 MB
    # actual), which would silently pin the size-adaptive default
    # (_auto_runner) to in-plan mode at every benchmark size.
    # corpus on tmpfs, not /tmp: this sandbox's /tmp is a single slow
    # block device — a serialization point no multi-executor cluster has
    # (each executor brings its own I/O path); tmpfs keeps the leg
    # measuring ENGINE scaling, not one disk's queue depth
    import os
    pq = f"/dev/shm/scale_corpus_{{size}}"
    if not os.path.exists(pq + "/_SUCCESS"):
        pages_full.write.mode("overwrite").parquet(pq)
    pages = spark.read.parquet(pq).select("url", "text")  # pruned: html/ts unread
    titles = titles.localCheckpoint()
    # broadcast_keys_max raised: at 4.8M pages the corpus carries 2.4M
    # dictionary keys, and the default 2M cutoff silently drops the fused
    # Arrow scan for the n-gram join path (~5x slower here) — the reference
    # itself holds the full title dict in process memory, so the scan path
    # is the faithful strategy for this benchmark
    # ledger_min_bytes lowered so the ~100-byte/page TEST corpus crosses the
    # adaptive threshold the way a real at-scale input would cross the
    # 256 MiB production default — the leg measures the ledgered-stage mode
    # AS the default plan, and default_mode in the output proves which mode
    # actually ran
    # 1 MiB: low enough that BOTH levels of a weak-scaling leg (size_low =
    # size/4) land on the same side of the threshold — a leg that measured
    # ledger mode at one level and inplan at the other would compare two
    # different physical plans
    cfg = ERConfig(block_cap=500, nsalt=16, broadcast_keys_max=8_000_000,
                   ledger_min_bytes=1 << 20)
    import os
    mode = os.environ.get("SPARK_GRAFT_SCALE_LEDGER", "")
    if mode == "1":
        # persistent-resumable shape: same stage graph as the default, but
        # the ledger is a named dir a later process could resume from;
        # fresh dir per rep so no resume short-circuit
        import tempfile
        from spikex_spark.lineage import resolve_entities_resumable
        def job():
            led = tempfile.mkdtemp(prefix="scale_ledger_",
                                   dir="/dev/shm/spark-local")
            resolve_entities_resumable(spark, pages, titles, led,
                                       fingerprint=led, cfg=cfg).count()
    elif mode == "0":
        # legacy single-plan mode (pre-round-4 default): all stages fused,
        # localCheckpoint barriers only — kept for A/B scaling comparison
        from spikex_spark.pipeline import run_inplan
        def job():
            resolve_entities(pages, titles, cfg,
                             stage_runner=run_inplan).count()
    else:
        # DEFAULT = what resolve_entities now does with no runner argument:
        # ephemeral ledgered execution (bucketed multi-consumer stages)
        def job():
            resolve_entities(pages, titles, cfg).count()
elif workload == "scoring":
    from spikex_spark.operators.scoring import jaro_winkler_udf
    df = (spark.range(size).repartition(64)
          .withColumn("a", F.concat(F.lit("the entity record number "),
                       (F.col("id") % 100000).cast("string"), F.lit(" with alpha beta gamma delta suffix")))
          .withColumn("b", F.concat(F.lit("the entity recrod numbre "),
                       ((F.col("id")+7) % 100000).cast("string"), F.lit(" with alpha beta gamma delat suffix"))))
    df = df.localCheckpoint()
    df.limit(max(size // 10, 1)).select(F.sum(jaro_winkler_udf("a","b"))).collect()  # warmup
    def job():
        df.select(F.sum(jaro_winkler_udf("a", "b"))).collect()
elif workload == "dump":
    # S1 source path at scale: multi-part .sql.gz dumps -> read_wiki_dump
    # (mapInPandas parse) -> build_wikigraph -> block members (title-key
    # probe, mention join, bridge) over a FIXED 100k-page corpus. gzip members are unsplittable, so the
    # part count (32) is the parallelism — exactly the cluster shape.
    from spikex_spark import synth
    from spikex_spark.pipeline import ERConfig, _mentions
    from spikex_spark.sources import read_wiki_dump
    from spikex_spark.wikigraph import build_wikigraph
    dump_dir = synth.gen_dump_parts(n_titles=size)
    corpus, _ = synth.gen_pages_scaled_df(spark, 100_000, pages_per_entity=4)
    corpus = corpus.select("url", "text")
    corpus.cache().count()
    cfg = ERConfig()   # >2M keys -> the shuffle-join mention path
    def job():
        # parse ONCE (eager checkpoint): the graph DAG and the mention join
        # each consume the parsed tables several times, and a real build
        # materializes the parse exactly once (the wikigraph artifact)
        g = build_wikigraph(
            read_wiki_dump(spark, dump_dir + "/page-*.sql.gz",
                           "page").localCheckpoint(),
            read_wiki_dump(spark, dump_dir + "/pageprops-*.sql.gz",
                           "pageprops"),
            read_wiki_dump(spark, dump_dir + "/redirect-*.sql.gz",
                           "redirect"),
            read_wiki_dump(spark, dump_dir + "/categorylinks-*.sql.gz",
                           "categorylinks"))
        titles = g.pages.select("title").localCheckpoint()
        _mentions(corpus, titles, cfg, "url", "text").count()
else:
    raise SystemExit(f"unknown workload {{workload}}")

extra = {{}}
if workload == "pipeline":
    # record which physical mode the size-adaptive default picked, so the
    # scaling report can't silently measure the wrong one (round-4 find:
    # the synthetic range plan's 24-byte/row estimate pinned it to inplan)
    from spikex_spark.pipeline import _auto_runner, run_inplan
    picked = _auto_runner(pages, cfg.ledger_min_bytes)
    extra["default_mode"] = "inplan" if picked is run_inplan else "ledger"

best = float("inf")
job()  # untimed warmup rep: cold-cache input/shuffle bytes differ from
       # steady state; running it BEFORE the `before` snapshot keeps the
       # per-rep metric deltas warm-only
before = _stage_totals()
for rep in range(3):
    t0 = time.time(); job(); best = min(best, time.time() - t0)
after = _stage_totals()
# engine-side evidence for the "shuffle bytes << input bytes" claim:
# per-rep deltas over the 3 timed reps (warmup excluded by the `before`
# snapshot taken after the warmup rep)
metrics = {{k: (after[k] - before[k]) // 3 for k in after}}
print(json.dumps({{"best_sec": round(best, 2), "metrics_per_rep": metrics,
                   **extra}}))
spark.stop()
"""


def run_level(workload: str, master: str, size: int, repo: str) -> dict:
    code = RUNNER.format(repo=repo)
    out = subprocess.run(
        [sys.executable, "-c", code, workload, master, str(size)],
        capture_output=True, text=True, timeout=1800,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def _md5burn(_):
    import hashlib
    h = b"x"
    for _ in range(800000):
        h = hashlib.md5(h).digest()
    return 1


def _stream(_):
    import numpy as np
    a = np.zeros(100_000_000 // 8)
    for _ in range(5):
        a = a * 1.000001 + 0.5
    return 1


def machine_calibration(n_low: int, n_high: int) -> dict:
    import multiprocessing as mp

    md5burn, stream = _md5burn, _stream
    out = {}
    for name, fn, per_task in (("cpu_md5", md5burn, 1), ("mem_stream", stream, 1)):
        res = {}
        for nproc in (n_low, n_high):
            with mp.Pool(nproc) as p:
                t0 = time.time()
                p.map(fn, range(nproc * 2))
                res[nproc] = round((nproc * 2) / (time.time() - t0), 2)
        eff = round(res[n_high] / res[n_low] / (n_high / n_low), 3)
        out[name] = {"throughput_per_level": res, "efficiency": eff}
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_low = int(args[0]) if args else 4
    n_high = int(args[1]) if len(args) > 1 else 4 * n_low
    pages = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "300000"))
    pairs = int(os.environ.get("SPARK_GRAFT_SCALE_PAIRS", "2000000"))
    titles = int(os.environ.get("SPARK_GRAFT_SCALE_TITLES", "2000000"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY", "")
    # weak scaling: problem size grows with core count (size = per-core base
    # x n), so ideal is EQUAL wall time at both levels — the fairer regime
    # for a fixed-overhead engine on a small fixed input
    weak = os.environ.get("SPARK_GRAFT_SCALE_WEAK", "") == "1"
    results = {"levels": [n_low, n_high], "mode": "weak" if weak else "strong",
               "machine": machine_calibration(n_low, n_high)}
    for workload, size, unit in (("pipeline", pages, "pages"),
                                 ("scoring", pairs, "pairs"),
                                 ("dump", titles, "titles")):
        if only and workload != only:
            continue
        size_low = size * n_low // n_high if weak else size
        size_high = size
        r_low = run_level(workload, f"local[{n_low}]", size_low, repo)
        r_high = run_level(workload, f"local[{n_high}]", size_high, repo)
        t_low, t_high = r_low["best_sec"], r_high["best_sec"]
        if weak:
            eff = round(t_low / t_high, 3)   # ideal: equal times -> 1.0
        else:
            eff = round((t_low / t_high) / (n_high / n_low), 3)
        m = r_high.get("metrics_per_rep", {})
        shuffle = m.get("shuffleWriteBytes", 0)
        inp = m.get("inputBytes", 0)
        results[workload] = {
            "size_low": size_low, "size_high": size_high,
            "unit": unit,
            **({"default_mode": r_high["default_mode"]}
               if "default_mode" in r_high else {}),
            # a low-level mode differing from high would mean the leg
            # compared two different physical plans — surface it
            **({"default_mode_low": r_low["default_mode"]}
               if r_low.get("default_mode") != r_high.get("default_mode")
               and "default_mode" in r_low else {}),
            f"sec_local[{n_low}]": t_low,
            f"sec_local[{n_high}]": t_high,
            f"{unit}_per_sec_local[{n_low}]": round(size_low / t_low, 1),
            f"{unit}_per_sec_local[{n_high}]": round(size_high / t_high, 1),
            "scaling_efficiency": eff,
            # total task cycles high/low, size-normalized: >1.0 means the
            # SAME per-row work costs more cycles at the higher level —
            # shared-bus/SMT contention the engine cannot remove, the
            # quantity a real multi-node cluster (one bus per executor)
            # does not pay. efficiency * inflation ~= the engine's own
            # (scheduling + serial-fraction) scaling.
            "work_inflation": (round(
                (r_high["metrics_per_rep"].get("executorRunTime", 0)
                 / max(size_high, 1))
                / max(r_low["metrics_per_rep"].get("executorRunTime", 1)
                      / max(size_low, 1), 1e-9), 3)
                if r_low.get("metrics_per_rep") else None),
            # per-rep engine metrics at the HIGH level (REST status API):
            # shuffle/spill bytes are the cross-executor traffic a real
            # cluster would pay — the "shuffle << input" evidence
            "engine_metrics_per_rep": m,
            "shuffle_write_over_input": round(shuffle / inp, 4) if inp else None,
        }
    print(json.dumps(results))


if __name__ == "__main__":
    main()
