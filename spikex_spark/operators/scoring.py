"""Stage 5 — vectorized pairwise similarity scoring.

Reference parity: spikex scores candidate neighbors with cosine similarity
over chunk embeddings (``pipes/clusters.py:111``); the north_rule replaces
that with Jaro-Winkler / Levenshtein + token-Jaccard over mention strings.

Three scorers, composable:

* ``levenshtein_sim`` — native Spark ``levenshtein()`` (JVM, codegen).
* ``token_jaccard``   — native array ops (``array_intersect`` sizes).
* ``jaro_winkler``    — the one Python hot spot: a scalar ``pandas_udf``
  (Arrow batches), implementation calibrated byte-exactly to DuckDB's
  ``jaro_winkler_similarity`` (see textutils; verified on 3000 random
  pairs) so the oracle can reproduce scores to the last ulp.

``score_pairs`` combines them: 0.5·JW(norm_a, norm_b) + 0.5·Jaccard(tokens).
Scores are rounded to 6 decimals before comparison/thresholding so the
Spark↔DuckDB value-hash is stable.

Scale notes: scoring is a narrow map over the pair table — no shuffle; the
JW pandas_udf hands each Arrow batch (``spark.sql.execution.arrow.
maxRecordsPerBatch``, 10k rows by default) to DuckDB in one call. At small
sizes the cost is per TASK, not per row: a Python task costs a fixed
~0.2 s even on a reused worker (measured on a 4-vCPU local[4] session: a
trivial pandas_udf over 4.2k rows takes 0.21 s on 1 partition, 0.31 s on 4
and 2.2 s on 32), so ``pipeline.score_doc_pairs`` merges its input to one
wave of tasks (``session.one_wave``). At 100 TB this stage is
embarrassingly parallel and bounded by pair count, which salting/capping
already bounded.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..textutils import jaro_winkler as _jw_py

_NON_ALNUM = "[^a-z0-9]+"


# per-worker embedded DuckDB connection for vectorized JW (guide: hand whole
# Arrow batches to a native vectorized library instead of looping rows in
# Python). Module-global so a reused python worker pays connect() once.
_JW_DUCK_CON = None


def _jw_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """One Arrow batch of Jaro-Winkler scores.

    Fast path: DuckDB's native ``jaro_winkler_similarity`` over the whole
    batch — the Python implementation (textutils.jaro_winkler) was
    calibrated byte-exactly against it, so swapping the evaluator changes
    nothing but speed (measured 150× on 10k×60-char batches; equality
    re-verified on 20k adversarial pairs incl. NULL/empty/prefix cases by
    test_scoring.py). NULL in → NULL out on both paths.
    ``preserve_insertion_order`` (DuckDB default, set explicitly) pins the
    projection to input row order. Falls back to the pure-Python loop if
    duckdb is unavailable on the worker.
    """
    global _JW_DUCK_CON
    if _JW_DUCK_CON is None:
        try:
            import duckdb

            _JW_DUCK_CON = duckdb.connect()
            _JW_DUCK_CON.execute("SET preserve_insertion_order=true")
        except Exception:
            _JW_DUCK_CON = False
    if _JW_DUCK_CON is not False:
        batch = pd.DataFrame({"a": a, "b": b})
        return _JW_DUCK_CON.execute(
            "SELECT jaro_winkler_similarity(a, b) AS s FROM batch").df()["s"]
    return pd.Series(
        [
            _jw_py(x, y) if x is not None and y is not None else None
            for x, y in zip(a, b)
        ],
        dtype="float64",
    )


# NB: return type is a DataType object, not a DDL string — string parsing at
# import time would require an active SparkSession.
@pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler (DuckDB-exact, see textutils.jaro_winkler)."""
    return _jw_batch(a, b)


def jw_fast(na: Column, nb: Column) -> Column:
    """Jaro-Winkler with the equal-string answer computed JVM-side.

    Case-variant mention pairs normalize to IDENTICAL strings and dominate
    real pair tables; for those the answer is 1.0 (0.0 when both empty —
    DuckDB convention, matched by the UDF). Two non-solutions first:
    `when(eq, 1.0).otherwise(udf)` does NOT skip Python — Spark extracts
    UDFs into an ArrowEvalPython node that runs for EVERY row regardless of
    the guard (verified on 4.1); splitting the frame and unioning the two
    halves back skips the hop but re-evaluates the whole upstream plan once
    per branch. Instead the UDF's input is MASKED to NULL on equal rows: the
    Python worker still sees every row but does O(1) None work instead of
    the O(len²) scorer, and the JVM `when` supplies the constant.
    """
    eq = na == nb  # null-unsafe on purpose: null operands fall through to
    # the UDF (masking when() treats a NULL predicate as false), which
    # returns None for them — same as the unmasked path
    masked = jaro_winkler_udf(F.when(eq, F.lit(None)).otherwise(na), nb)
    return F.when(
        eq, F.when(F.length(na) > 0, F.lit(1.0)).otherwise(F.lit(0.0))
    ).otherwise(masked)


def _norm(col: Column) -> Column:
    """Mention normalization for scoring: lowercase, punct runs → single
    space, trim — shared convention with the DuckDB oracle."""
    return F.trim(F.regexp_replace(F.lower(col), _NON_ALNUM, " "))


def _tokens(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), _NON_ALNUM), lambda t: t != "")


def token_jaccard_arrays(ta: Column, tb: Column) -> Column:
    """Jaccard over PRE-DISTINCT token array columns (the fast path —
    precompute the arrays per doc, not per pair)."""
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return (
        F.when((F.size(ta) == 0) & (F.size(tb) == 0), F.lit(1.0))
        .when(union == 0, F.lit(0.0))
        .otherwise(inter.cast("double") / union.cast("double"))
    )


def token_jaccard(a: Column, b: Column) -> Column:
    return token_jaccard_arrays(F.array_distinct(_tokens(a)), F.array_distinct(_tokens(b)))


def levenshtein_sim(a: Column, b: Column) -> Column:
    """1 - lev/maxlen, native (JVM)."""
    mx = F.greatest(F.length(a), F.length(b))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(a, b).cast("double") / mx.cast("double")
    )


def score_pairs(pairs: DataFrame, a_col: str = "surface_a",
                b_col: str = "surface_b", jw_weight: float = 0.5) -> DataFrame:
    """Append component scores + the combined ``score``.

    Surfaces repeat heavily across pairs (every mention of "Apple" yields the
    same string), so similarity is computed once per DISTINCT (a, b) surface
    pair and broadcast-joined back — at 20k synthetic pages this turns ~1M
    scored rows into a few hundred, and the JW Python UDF plus the JVM
    normalization chain run on the small side only.
    """
    uniq = pairs.select(a_col, b_col).distinct()
    na, nb = _norm(F.col(a_col)), _norm(F.col(b_col))
    # combine UNROUNDED components and round ONCE — two-stage rounding lands
    # on exact decimal halves where Spark (HALF_UP) and DuckDB disagree (the
    # hazard pipeline.doc_scored_pairs documents); jw/jacc stay as rounded
    # display columns only
    scored_uniq = (
        uniq.withColumn("_jw", jw_fast(na, nb))
        .withColumn("_jacc", token_jaccard(F.col(a_col), F.col(b_col)))
        .withColumn(
            "score",
            F.round(F.lit(jw_weight) * F.col("_jw")
                    + F.lit(1.0 - jw_weight) * F.col("_jacc"), 6),
        )
        .withColumn("jw", F.round(F.col("_jw"), 6))
        .withColumn("jacc", F.round(F.col("_jacc"), 6))
        .drop("_jw", "_jacc")
    )
    # no broadcast HINT: surfaces repeat heavily in real webtext and the
    # distinct side is tiny — but corpora where every entity has unique
    # surfaces leave scored_uniq ≈ pairs, and a forced broadcast of
    # millions of rows (~300MB at 4.8M synthetic pages, measured) chokes
    # the driver. AQE sees the real size at runtime and picks broadcast
    # exactly when it is small.
    return pairs.join(scored_uniq, [a_col, b_col])


@pandas_udf(T.ArrayType(T.DoubleType()))
def me_max_sims_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
    """Per-``ta``-token maximum Jaro-Winkler against the ``tb`` tokens
    (null when either side is empty) — the inner kernel of Monge-Elkan.
    Only jw + max run in Python: max is reduction-order-independent, so
    every order-sensitive step (scaling, summation, rounding) stays in
    the mirrored JVM/SQL layer."""
    out = []
    for a, b in zip(ta, tb):
        if a is None or b is None or len(a) == 0 or len(b) == 0:
            out.append(None)
        else:
            out.append([max(_jw_py(x, y) for y in b) for x in a])
    return pd.Series(out)


def monge_elkan(pairs: DataFrame, toks_a: str = "toks_a",
                toks_b: str = "toks_b", max_tokens: int = 8,
                id_cols=("id_a", "id_b")) -> DataFrame:
    """(ids..., me_ab, me_ba, me_sym): Monge-Elkan hybrid similarity —
    mean over one side's tokens of the best JW match on the other side
    (Monge & Elkan '96), the scorer for multi-token names where token
    ORDER differs ('united bank of london' vs 'london united bank') so
    whole-string JW collapses but per-token alignment survives.

    Token lists are capped at ``max_tokens`` per side (ME is
    O(|a|·|b|) per pair — the cap is the same O(1)-per-pair bound the
    64-char JW prefix enforces). Scale shape: ONE narrow Arrow-batched
    map over the pair table, zero shuffles.

    Determinism: per-token maxes are scaled to int64 micro-units and
    summed via a SEQUENTIAL array fold (``F.aggregate``) in list order,
    one exact division at the end — float groupBy sums would be
    reduction-order-dependent. Null when either token list is empty
    (asymmetric ME is undefined over an empty side)."""
    d = (pairs
         .withColumn("_a8", F.slice(F.col(toks_a), 1, max_tokens))
         .withColumn("_b8", F.slice(F.col(toks_b), 1, max_tokens))
         .withColumn("_mab", me_max_sims_udf(F.col("_a8"), F.col("_b8")))
         .withColumn("_mba", me_max_sims_udf(F.col("_b8"), F.col("_a8"))))

    def _scaled_sum(c: str) -> Column:
        return F.aggregate(
            F.col(c), F.lit(0).cast("long"),
            lambda acc, x: acc + F.round(x * F.lit(1000000.0), 0)
            .cast("long"))

    sa, sb = _scaled_sum("_mab"), _scaled_sum("_mba")
    na = F.size("_a8") * F.lit(1000000.0)
    nb = F.size("_b8") * F.lit(1000000.0)
    return d.select(
        *id_cols,
        F.round(sa / na, 6).alias("me_ab"),
        F.round(sb / nb, 6).alias("me_ba"),
        F.round((sa / na + sb / nb) * F.lit(0.5), 6).alias("me_sym"))


_SOFT_ALIGN_SCHEMA = T.StructType([
    T.StructField("mx", T.ArrayType(T.DoubleType())),
    T.StructField("ax", T.ArrayType(T.IntegerType())),
])


@pandas_udf(_SOFT_ALIGN_SCHEMA)
def soft_align_udf(ta: pd.Series, tb: pd.Series) -> pd.DataFrame:
    """Per-``ta``-token best-JW alignment against ``tb``: the max
    similarity and its 1-BASED first-occurrence index (the same pick
    DuckDB's list_position makes, so the oracle reproduces the argmax
    bit-for-bit). Only jw + max/argmax run in Python — every
    order-sensitive product/sum stays in the mirrored SQL layer."""
    rows = []
    for a, b in zip(ta, tb):
        if a is None or b is None or len(a) == 0 or len(b) == 0:
            rows.append((None, None))
            continue
        mxs, axs = [], []
        for x in a:
            sims = [_jw_py(x, y) for y in b]
            m = max(sims)
            mxs.append(m)
            axs.append(sims.index(m) + 1)
        rows.append((mxs, axs))
    return pd.DataFrame(rows, columns=["mx", "ax"])


def soft_tfidf(pairs: DataFrame, theta: float = 0.9,
               id_cols=("id_a", "id_b")) -> DataFrame:
    """(ids..., soft_ab, soft_ba, soft_sym): SoftTFIDF (Cohen,
    Ravikumar & Fienberg '03) — the hybrid that beat both pure
    token-cosine and pure edit similarity in their record-linkage
    benchmark: cosine's tf-idf weighting, but tokens match SOFTLY
    (best JW partner above ``theta``) instead of exactly, so 'jonh' ×
    'john' still contributes its idf weight.

    ``pairs`` must carry aligned per-doc arrays (toks_*, w_*): sorted
    distinct tokens and their integer tf-idf weights (the cosinejoin
    quantization: ``tf · round(ln(1 + N/df)·10³)``), pre-capped to a
    fixed K so the JW kernel stays O(1) per pair.

    score(a→b) = Σ_{i: mx_i > θ} V(t_i,a) · V(u*_i,b) · mx_i with
    L2-normalized V — computed as a SEQUENTIAL JVM fold of per-term
    int64 nano-units (float sums are reduction-order-dependent), one
    exact division at the end. Null when either token list is empty.
    One narrow Arrow stage + a codegen'd fold: zero shuffles."""
    d = (pairs
         .withColumn("_ab", soft_align_udf(F.col("toks_a"), F.col("toks_b")))
         .withColumn("_ba", soft_align_udf(F.col("toks_b"), F.col("toks_a"))))

    def _norm(c: str) -> Column:
        return F.sqrt(F.aggregate(
            F.col(c), F.lit(0).cast("long"),
            lambda acc, x: acc + x * x).cast("double"))

    na, nb = _norm("w_a"), _norm("w_b")

    def _fold(mx: Column, ax: Column, wa: Column, wb: Column,
              n1: Column, n2: Column) -> Column:
        def term(acc: Column, i: Column) -> Column:
            t = (((F.element_at(wa, i) / n1)
                  * (F.element_at(wb, F.element_at(ax, i)) / n2))
                 * F.element_at(mx, i) * F.lit(1e9))
            return acc + (F.when(F.element_at(mx, i) > F.lit(theta),
                                 F.round(t, 0).cast("long"))
                          .otherwise(F.lit(0).cast("long")))
        return F.aggregate(F.sequence(F.lit(1), F.size(mx)),
                           F.lit(0).cast("long"), term)

    sab = _fold(F.col("_ab.mx"), F.col("_ab.ax"),
                F.col("w_a"), F.col("w_b"), na, nb)
    sba = _fold(F.col("_ba.mx"), F.col("_ba.ax"),
                F.col("w_b"), F.col("w_a"), nb, na)
    return d.select(
        *id_cols,
        F.round(sab / F.lit(1e9), 6).alias("soft_ab"),
        F.round(sba / F.lit(1e9), 6).alias("soft_ba"),
        F.round((sab / F.lit(1e9) + sba / F.lit(1e9)) * F.lit(0.5), 6)
         .alias("soft_sym"))


def tfidf_token_arrays(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_tokens: int = 12) -> DataFrame:
    """(id, toks, ws): per-doc sorted distinct tokens with integer
    tf-idf weights (the cosinejoin quantization), capped at
    ``max_tokens`` — the per-doc precompute SoftTFIDF consumes. One
    explode + two map-side-combined groupBys; N = docs with ≥1 token."""
    tf = (docs.select(F.col(id_col).alias("id"),
                      F.explode(_tokens(F.col(text_col))).alias("tok"))
          .groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    nd = tf.agg(F.countDistinct("id").alias("n_docs"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    w = (tf.join(dfreq, "tok").crossJoin(F.broadcast(nd))
         .select("id", "tok",
                 (F.col("tf") * F.round(
                     F.log(F.lit(1.0) + F.col("n_docs").cast("double")
                           / F.col("dfreq")) * F.lit(1000), 0)
                  .cast("long")).alias("w")))
    per = (w.groupBy("id")
           .agg(F.sort_array(F.collect_list(F.struct("tok", "w")))
                .alias("_s")))
    return per.select(
        "id",
        F.slice(F.transform(F.col("_s"), lambda s: s["tok"]),
                1, max_tokens).alias("toks"),
        F.slice(F.transform(F.col("_s"), lambda s: s["w"]),
                1, max_tokens).alias("ws"))
