"""Structured Streaming surface.

The reference has NO streaming (SURVEY.md §2.9) — its only incremental path
is the generator-based dump parse. This module makes the engine's stages
Structured-Streaming-ready: every batch stage is a pure DataFrame transform,
so the same functions compose behind ``readStream``. Provided here:

* ``stream_pages``        — file-source stream over a pages/documents dir
  (schema-pinned; no inference on streams).
* ``windowed_mention_counts`` — event-time tumbling window + watermark agg
  (late data bounded by the watermark).
* ``streaming_dedup``     — stateful exact dedup via
  ``dropDuplicatesWithinWatermark`` (the streaming face of
  dedup.exact_duplicates; state per hash expires past the watermark).
* ``sessionize``          — native session windows (``F.session_window``)
  per user key, batch and streaming.
* ``stream_interval_join`` — stream-stream inner join bounded by a
  two-sided event-time range (state evictable ⇒ unbounded streams OK).
* ``run_to_memory``       — test/bench harness: drain a stream into an
  in-memory table and return the result.

Scale notes: watermark bounds state; dedup state is keyed by content hash
(uniform) so no skew; checkpointLocation gives exactly-once sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def stream_pages(spark: SparkSession, path: str,
                 schema: T.StructType = PAGES_SCHEMA,
                 max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_mention_counts(stream: DataFrame, window: str = "1 hour",
                            watermark: str = "2 hours",
                            ts_col: str = "warc_ts",
                            lang_col: str = "lang") -> DataFrame:
    """Tumbling-window page counts per lang with late-data watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(lang_col))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col(lang_col).alias("lang"),
            "n_pages",
        )
    )


def sliding_window_counts(df: DataFrame, ts_col: str, key_col: str,
                          window: str = "2 hours", slide: str = "1 hour",
                          watermark: str | None = None) -> DataFrame:
    """(window_start, window_end, key, n): SLIDING event-time windows —
    each event lands in ``window/slide`` overlapping windows (Spark
    epoch-aligned ``F.window`` semantics, [start, end) bounds). With
    tumbling (``windowed_mention_counts``) and session (``sessionize``)
    windows this completes the window-type triad; batch and streaming
    run the same code (pass ``watermark`` on a stream).

    Scale: one shuffle; the window expansion is a narrow ``Expand`` of
    window/slide rows per event before the map-side partial aggregate.
    """
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.window(F.col(ts_col), window, slide).alias("w"),
                    F.col(key_col).alias("key"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "key", "n")
    )


def streaming_dedup(stream: DataFrame, ts_col: str = "warc_ts",
                    text_col: str = "text",
                    watermark: str = "2 hours") -> DataFrame:
    """Exact near-line dedup: first arrival per content hash wins within the
    watermark delay; state for a hash expires once event time advances past
    it. ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``) is
    load-bearing here: with only the hash as key, plain dropDuplicates keeps
    one state row per distinct hash FOREVER — unbounded on a long-running
    stream. The Within variant evicts each hash's state after the watermark
    delay, so a duplicate arriving later than ``watermark`` after the first
    copy is re-emitted (acceptable: ingest dedup is best-effort suppression;
    the batch pipeline remains the exactness backstop)."""
    hashed = stream.withColumn("text_hash", F.md5(F.col(text_col)))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def streaming_canonical_assign(stream: DataFrame, key_col: str = "block_key",
                               id_col: str = "doc_id") -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): incremental
    canonical-id assignment per blocking key — the streaming face of the ER
    canonicalization step (dedup.exact_duplicates' min-id rule, applied as
    pages arrive).

    State per key = the running minimum id ever seen; each micro-batch of a
    key group re-reads that state, folds the batch minimum in, and emits
    (key, id, canonical_id) assignments. State is one long per live key —
    at 100 TB the state store scales with DISTINCT keys, not rows, and the
    operator shuffles each batch once on the key (same partitioning the
    batch pipeline uses).
    """
    import pandas as pd

    # schemas derive from the input stream so non-long ids / non-string keys
    # work (min state is typed like the id; pandas min preserves the type)
    key_t = stream.schema[key_col].dataType.simpleString()
    id_t = stream.schema[id_col].dataType.simpleString()

    def assign(key, pdfs, state):
        mn = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            batch_min = pdf[id_col].min()
            mn = batch_min if mn is None else min(mn, batch_min)
            out.append(pd.DataFrame({
                key_col: key[0],
                id_col: pdf[id_col],
            }))
        if mn is not None:
            state.update((mn,))
        for pdf in out:
            pdf["canonical_id"] = mn
            yield pdf

    from pyspark.sql.streaming.state import GroupStateTimeout
    return stream.groupBy(key_col).applyInPandasWithState(
        assign,
        outputStructType=f"{key_col} {key_t}, {id_col} {id_t},"
                         f" canonical_id {id_t}",
        stateStructType=f"min_id {id_t}",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize(df: DataFrame, user_col: str, ts_col: str,
               gap: str = "6 hours", value_col: str | None = None,
               watermark: str | None = None) -> DataFrame:
    """(user, session_start, session_end, n_events, [sum_value]): session
    windows — events of a user belong to one session while each arrives
    within ``gap`` of the previous; ``session_end`` = last event + gap
    (Spark ``F.session_window`` semantics).

    Works on BATCH and STREAMING inputs alike (pass ``watermark`` on a
    stream so session state closes once event time passes the gap). The
    batch contract query is oracle-mirrored with a gaps-and-islands SQL
    recompute. Scale shape: one shuffle on the user key; session merge is
    Spark's native session-window state machine, state bounded by open
    sessions (streams) or per-key group size (batch).
    """
    src = df.withWatermark(ts_col, watermark) if watermark else df
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 4).alias("sum_value"))
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                    F.col(user_col))
        .agg(*aggs)
        .select(F.col(user_col),
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                *[F.col(c) for c in
                  (["n_events", "sum_value"] if value_col else ["n_events"])])
    )


def stream_interval_join(left: DataFrame, right: DataFrame, key: str,
                         left_ts: str, right_ts: str,
                         tolerance: str = "10 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Stream-stream INNER join on ``key`` where the right event lands in
    ``(left_ts - tolerance, left_ts]`` — every click within the window
    before each error, correlated live at ingest.

    This is the join Structured Streaming CAN do unbounded: the two-sided
    event-time range condition plus watermarks on BOTH inputs lets the
    state store evict a buffered row as soon as no future row on the
    other side could still match it (state ≈ rows inside
    watermark + tolerance, independent of stream length). Without the
    range condition the same join would buffer both streams forever.

    Column names must be disjoint apart from ``key`` (rename upstream);
    the joined ``key`` column appears once.
    """
    l = left.withWatermark(left_ts, watermark)  # noqa: E741
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (r[right_ts] <= l[left_ts])
        & (r[right_ts] > l[left_ts] - F.expr(f"INTERVAL {tolerance}"))
    )
    return l.join(r, (l[key] == r[key]) & cond).drop(r[key])


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "append",
                  shuffle_partitions: int | None = None) -> DataFrame:
    """Drain all available input into an in-memory table (tests/bench).

    ``shuffle_partitions`` scopes a state-partition override to this drain
    (restored after): stateful operators pay a fixed state-store open/commit
    cost PER shuffle partition per micro-batch, so a small local drain of a
    stream-stream join (4 state stores per partition) wants few partitions,
    while a production stream sizes this to its key cardinality. The result
    is a set either way — partitioning never changes it.
    """
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if shuffle_partitions is not None:
        spark.conf.set(key, str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set(key, prev)
    return spark.table(name)


def streaming_signature_dedup(stream: DataFrame, ts_col: str = "warc_ts",
                              id_col: str = "url", text_col: str = "text",
                              watermark: str = "2 hours",
                              num_hashes: int = 16) -> DataFrame:
    """Streaming NEAR-dup suppression at ingest: first arrival per full
    MinHash signature wins.

    The signature computes MAP-SIDE per row as ONE column-expression chain
    (``char_shingles_expr`` → ``minhash_sig_expr``, the zero-shuffle
    variants that exist exactly for fusion into streaming map stages — a
    join back to a derived signature table would be a stream-stream join),
    so the only stateful work is the dropDuplicates keyed on one md5 of
    the signature, watermark-bounded. Semantics: suppresses docs whose
    entire signature matches an earlier arrival (signature-identical ⇒
    near-identical with high probability); banded sub-signature recall
    (true LSH near-dups) stays a batch-pipeline job — the per-band union
    of canonical ids is not expressible in one streaming pass.
    """
    from ..operators.blocking import (
        _norm_tokens,
        char_shingles_expr,
        minhash_sig_expr,
    )
    from ..pipeline import DOC_SHINGLE_K

    # each expensive expression in its OWN projection (see shingle_df /
    # SPARK-36718 notes: inlining re-evaluates the chain per element)
    normed = stream.select(
        id_col, ts_col, text_col,
        F.array_join(_norm_tokens(F.col(text_col)), " ").alias("_norm"),
    )
    shingled = normed.select(
        id_col, ts_col, text_col,
        char_shingles_expr("_norm", k=DOC_SHINGLE_K).alias("_sh"),
    )
    sigged = shingled.select(
        id_col, ts_col, text_col,
        minhash_sig_expr(F.col("_sh"), num_hashes).alias("_sig"),
    )
    keyed = sigged.select(
        id_col, ts_col, text_col,
        F.md5(F.concat_ws(
            "|", F.transform(F.col("_sig"), lambda v: v.cast("string"))
        )).alias("sig"),
    )
    # Within-watermark variant: plain dropDuplicates(['sig']) would hold one
    # state row per distinct signature forever (the event-time column is not
    # part of the key, so the watermark never evicts). This bounds state to
    # signatures seen within the watermark delay; a near-dup arriving later
    # than that is re-admitted — the batch LSH pipeline catches it.
    return keyed.withWatermark(ts_col, watermark)\
        .dropDuplicatesWithinWatermark(["sig"])


def stream_apply_changes(changes: DataFrame, snapshot_dir: str,
                         key_cols, seq_col: str, op_col: str = "op",
                         checkpoint_dir: str | None = None):
    """Maintain a keyed snapshot from a CDC CHANGE STREAM: each
    micro-batch is merged into the parquet snapshot at ``snapshot_dir``
    via ``operators.cdc.apply_changes`` inside ``foreachBatch`` — the
    Structured-Streaming shape of Delta/Iceberg `MERGE INTO` as a
    continuously-applied changelog (Debezium-style upsert sink).

    Semantics: within a batch, last-writer-wins by ``seq_col``; across
    batches, later batches win (the stream's arrival order IS the
    changelog order — callers needing global LWW against late data
    should keep ``seq_col`` globally unique and re-sort downstream).
    The snapshot is rewritten atomically per batch (tmp dir + rename);
    at production scale the same ``apply_changes`` call targets an
    Iceberg/Delta table whose MERGE commits the delta instead of a
    rewrite — the operator is storage-agnostic, only this sink isn't.

    Returns the StreamingQuery (caller awaits termination).
    """
    import shutil
    import uuid
    from pathlib import Path

    from ..operators.cdc import apply_changes

    spark = changes.sparkSession
    keys = list(key_cols)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        snap = spark.read.parquet(snapshot_dir)
        merged = apply_changes(snap, batch, keys, seq_col, op_col=op_col)
        tmp = str(Path(snapshot_dir).parent
                  / f"_snap_tmp_{uuid.uuid4().hex[:8]}")
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(snapshot_dir)
        Path(tmp).rename(snapshot_dir)

    w = changes.writeStream.foreachBatch(_merge).trigger(availableNow=True)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()
