"""SparkSession factory tuned for this engine, and the helpers that size
execution from the session (task slots, plan size estimates).

Local-mode testing stands in for a multi-executor cluster; all scale knobs
(AQE, skew-join handling, shuffle partitions, Arrow) are set the way a
production submit would set them, so the plans we test are the plans we'd
ship via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# local-mode driver heap: this fraction of the machine's memory, at most
# MAX_LOCAL_HEAP_GB (the heap a 32-core local run with array-heavy rows
# was tuned for); SPARK_DRIVER_MEM overrides it
LOCAL_HEAP_FRACTION = 0.5
MAX_LOCAL_HEAP_GB = 48
# local-mode scratch: tmpfs, unless SPARK_LOCAL_DIRS names another place
LOCAL_SCRATCH = "/dev/shm/spark-local"


def local_scratch() -> str:
    """The directory for local-mode scratch files: the first entry of
    SPARK_LOCAL_DIRS (a comma-separated list), else LOCAL_SCRATCH."""
    return (os.environ.get("SPARK_LOCAL_DIRS") or LOCAL_SCRATCH).split(",")[0]


def _machine_memory_bytes() -> int | None:
    """Memory this process may use: MemTotal from /proc/meminfo, lowered
    to the cgroup limit when one is set. None where neither is readable."""
    limits = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
                    break
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limits.append(int(f.read().strip()))
    except (OSError, ValueError):
        pass  # no cgroup v2 limit ("max") or not readable
    return min(limits) if limits else None


def local_driver_heap(mem_bytes: int | None = None) -> str:
    """Driver heap for a local master: half the machine's memory, capped at
    MAX_LOCAL_HEAP_GB, at least 1g. In local mode every task runs in the
    driver JVM, so its heap is all the executor memory there is; a fixed
    48g let the JVM grow past a 15 GB host's memory and be OOM-killed."""
    mem = _machine_memory_bytes() if mem_bytes is None else mem_bytes
    if mem is None:
        return "4g"  # unknown machine: a heap most laptops can hold
    gb = int(mem * LOCAL_HEAP_FRACTION) >> 30
    return f"{max(1, min(MAX_LOCAL_HEAP_GB, gb))}g"


def session_conf(master: str) -> dict[str, str]:
    """Driver heap, scratch and JVM options ``get_spark`` sets for
    ``master``. A local master gets a heap sized to the machine and tmpfs
    scratch. Any other master keeps the cluster's own heap and executor
    scratch: only an explicit SPARK_DRIVER_MEM / SPARK_LOCAL_DIRS is
    passed on."""
    local = master.startswith("local")
    conf = {}
    # local mode = driver-only: the driver heap IS the executor memory
    heap = os.environ.get("SPARK_DRIVER_MEM") or (
        local_driver_heap() if local else None)
    if heap:
        conf["spark.driver.memory"] = heap
    # shuffle/checkpoint scratch on tmpfs: a block device with slow,
    # bursty writeback (load-avg spikes from flush kworkers) made identical
    # runs vary 16s-113s; on a cluster this is the executors' own fast
    # local SSD / NVMe scratch
    scratch = os.environ.get("SPARK_LOCAL_DIRS") or (
        LOCAL_SCRATCH if local else None)
    if scratch:
        conf["spark.local.dir"] = scratch
    # whole-stage codegen for the ER plan exceeds HotSpot's
    # DontCompileHugeMethods bytecode limit, leaving the hot loop
    # INTERPRETED (measured 150x CPU inflation, 1227s vs 8s for one
    # stage); let the JIT compile huge generated methods.
    # java.io.tmpdir on the fast scratch (local masters): TEMPORARY
    # streaming checkpoints (offsets/commits/state, fsync'd per
    # micro-batch) and other JVM scratch files otherwise land on /tmp,
    # which may be the same slow block device. Durable checkpoints pass an
    # explicit checkpointLocation and are unaffected.
    java_opts = "-XX:-DontCompileHugeMethods"
    if local:
        java_opts += f" -Djava.io.tmpdir={LOCAL_SCRATCH}/jvmtmp"
    conf["spark.driver.extraJavaOptions"] = os.environ.get(
        "SPARK_DRIVER_JAVA_OPTS", java_opts)
    return conf


def get_spark(
    master: str | None = None,
    app_name: str = "spikex_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    * AQE on (runtime coalesce + skew-join splitting — the runtime half of
      our skew strategy; the static half is explicit salting in blocking).
    * Arrow on (every Python-side stage is an Arrow batch stage).
    * Shuffle partitions sized to cores for local mode; a cluster submit
      overrides via ``--conf`` (rule of thumb: 2-3x total cores, or
      input_bytes / 128MB, whichever is larger).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # default parallelism AND shuffle partitions = 2x cores, not 1x: AQE's
    # parallelism-first coalesce floor and the parquet leaf-split count both
    # derive from defaultParallelism, and a floor of exactly-cores quantizes
    # stages into "one full wave plus a straggler wave" (measured: a 9-task
    # CPU-dense stage on 8 cores runs ~1.8x its ideal wall). Two even waves
    # of half-size tasks track the ideal — the docstring's own 2-3x rule of
    # thumb, now applied to the local default; cluster submits override via
    # --conf as usual.
    ncores = None
    if master.startswith("local["):
        inner = master[len("local["):].rstrip("]")
        ncores = os.cpu_count() if inner == "*" else int(inner)
    nshuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS",
                       2 * ncores if ncores else DEFAULT_SHUFFLE_PARTITIONS)
    )
    conf = session_conf(master)
    # the JVM never creates java.io.tmpdir itself — make the default
    # scratch path exist before launch (harmless if an env override
    # points elsewhere)
    if master.startswith("local"):
        try:
            os.makedirs(f"{LOCAL_SCRATCH}/jvmtmp", exist_ok=True)
        except OSError:
            pass
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor: the default 1 MiB minPartitionSize is a
        # byte-density heuristic that starves CPU-dense stages — a pairwise
        # Jaro-Winkler Arrow stage carries ~100 bytes/pair but ~10 µs CPU, so
        # a 6 MiB shuffle coalesced to six 1 MiB partitions pins a
        # seconds-long scoring stage to 6 of 32 cores (measured: the single
        # biggest strong-scaling loss at local[32]). 64 KiB keeps small
        # CPU-heavy shuffles at full width; at production scale partitions
        # are orders of magnitude above either floor, so this only changes
        # the small-input tail.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64kb")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # shuffle-merge transferTo mmaps partition files — on tmpfs the
        # concurrent map/unmap calls serialized in the kernel (80% sys time)
        .config("spark.file.transferTo", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # joins may reuse an existing partitioning on a SUBSET of the join
        # keys (e.g. the (block_key, salt) pair self-join over a stage
        # bucketed by block_key) instead of re-shuffling both sides; our
        # bucketed stages are salt/cap-guarded so the skew concern behind
        # the conservative default does not apply
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # PySpark 4's DataFrame-debugging wrapper charges EVERY Python API
        # call ~4 extra py4j round-trips (conf.get + JVM origin set/clear)
        # plus a Python stack walk, purely to enrich error messages with
        # user call sites. Plan CONSTRUCTION is inside every timed query
        # (and on a real cluster it is the same driver-side latency), and
        # the big expression trees here make thousands of API calls:
        # measured 2x faster construction with it off (simhash_near_dups
        # 1.8->0.65s, minhash_near_dups 1.2->0.75s per build). Pure
        # driver-side planning overhead at any scale; values and plans are
        # untouched.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if ncores:
        builder = builder.config("spark.default.parallelism", str(2 * ncores))
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's pre-execution size estimate for a plan: file bytes for a
    parquet scan, actual cached bytes for a materialized cache — no job is
    triggered. Unknown/unstatted plans report huge, which is the scale-safe
    direction for every size-adaptive choice (pipeline._auto_runner,
    one_wave)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:
        return 1 << 62


def task_slots(spark: SparkSession) -> int:
    """Tasks the cluster runs at once (default resource profile)."""
    sc = spark.sparkContext._jsc.sc()
    return sc.maxNumConcurrentTasks(
        sc.resourceProfileManager().defaultResourceProfile())


def advisory_partitions(df: DataFrame) -> int:
    """Partitions of spark.sql.adaptive.advisoryPartitionSizeInBytes that
    Catalyst's size estimate of ``df`` fills (huge when unknown)."""
    spark = df.sparkSession
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    return -(-plan_size_bytes(df) // advisory)


def one_wave(df: DataFrame, driving: DataFrame) -> DataFrame:
    """Size the input of an Arrow-Python stage by CPU, not by bytes.

    Each Python task costs a fixed ~0.2 s even on a reused worker —
    measured on a 4-vCPU local[4] session: a trivial pandas_udf over 4.2k
    rows takes 0.21 s on 1 partition, 0.31 s on 4 and 2.2 s on 32. So a
    small Python stage should run in one wave of ``task_slots`` tasks.
    ``df`` is merged with a narrow ``coalesce`` (no new exchange) down to
    max(task slots, ``advisory_partitions(driving)``), where ``driving``
    is the stage's driving table: a join's own estimate multiplies its
    sides' sizes and is useless here. The width only ever falls; once the
    byte term reaches the shuffle width (at scale, or for an unknown
    estimate) ``df`` is returned unchanged."""
    spark = df.sparkSession
    by_bytes = advisory_partitions(driving)
    if by_bytes >= int(spark.conf.get("spark.sql.shuffle.partitions")):
        return df
    return df.coalesce(max(task_slots(spark), by_bytes))
