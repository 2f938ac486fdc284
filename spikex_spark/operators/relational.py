"""Relational operators: the reference's dict/trie lookups as real joins.

Reference parity (SURVEY.md §2.3):

* J1 redirect resolution (2-hop) — spikex ``wikigraph/wikigraph.py:322-340``:
  ``redirects: title→pageid`` plus one extra hop to collapse
  redirect-of-redirect chains.
* J2 category semi-join — ``wikigraph.py:343-364``: keep categorylink rows
  whose source exists in the allowed pages (trie membership ≡ left-semi).
* J3 anti-join dedup — ``wikigraph.py:300-306``: drop redirect sources and
  disambiguation pages from the pages table.
* J4 id↔title lookup — ``wikigraph.py:133-149``: union of dimension tables +
  broadcast equi-join.
* F2 page-props filter — ``wikigraph.py:283-296``: drop hiddencat/noindex.

Scale notes: redirects/disambiguations are ≪ pages → broadcast hash joins
(hinted); the pages table is the fact side and never shuffles for these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_redirects(titles: DataFrame, max_hops: int = 2) -> DataFrame:
    """J1: (title, resolved_pageid) following redirect chains up to max_hops.

    Non-redirect rows resolve to themselves. A chain longer than max_hops
    resolves as far as the hop bound allows (reference follows exactly one
    extra hop, ``wikigraph.py:331-339``).
    """
    base = titles.select(
        "title", "pageid", "is_redirect",
        F.col("redirect_to").alias("_next"),
    )
    resolved = base.withColumn(
        "resolved", F.when(F.col("is_redirect"), F.col("_next")).otherwise(F.col("pageid"))
    )
    dim = titles.select(
        F.col("pageid").alias("_pid"),
        F.col("is_redirect").alias("_r"),
        F.col("redirect_to").alias("_rt"),
    )
    for _ in range(max_hops - 1):
        resolved = (
            resolved.join(F.broadcast(dim), resolved.resolved == dim._pid, "left")
            .withColumn(
                "resolved",
                F.when(F.col("_r") & F.col("_rt").isNotNull(), F.col("_rt"))
                .otherwise(F.col("resolved")),
            )
            .drop("_pid", "_r", "_rt")
        )
    return resolved.select("title", "pageid", F.col("resolved").alias("resolved_pageid"))


def dedup_pages(titles: DataFrame) -> DataFrame:
    """J3: pages minus redirect sources minus disambiguations (anti-joins)."""
    pages = titles.where(F.col("kind") == "page")
    redirects = titles.where(F.col("is_redirect")).select(F.col("title").alias("t"))
    disambi = titles.where(F.col("kind") == "disambiguation").select(
        F.col("title").alias("t")
    )
    return (
        pages.join(F.broadcast(redirects), pages.title == redirects.t, "left_anti")
        .join(F.broadcast(disambi), pages.title == disambi.t, "left_anti")
    )


def filter_hidden(titles: DataFrame) -> DataFrame:
    """F2: drop pages whose props include hiddencat/noindex; flag disambig."""
    return titles.where(
        ~F.array_contains(F.col("props"), "hiddencat")
        & ~F.array_contains(F.col("props"), "noindex")
    ).withColumn(
        "is_disambiguation", F.array_contains(F.col("props"), "disambiguation")
    )


def allowed_category_links(links: DataFrame, titles: DataFrame) -> DataFrame:
    """J2: keep edges whose src is an allowed page AND dst is a category."""
    allowed = filter_hidden(titles).select(F.col("pageid").alias("_src_ok"))
    cats = titles.where(F.col("kind") == "category").select(
        F.col("pageid").alias("_dst_ok")
    )
    return (
        links.join(F.broadcast(allowed), links.src == F.col("_src_ok"), "left_semi")
        .join(F.broadcast(cats), links.dst == F.col("_dst_ok"), "left_semi")
    )


def json_field_stats(df: DataFrame, group_col: str, json_col: str,
                     path: str, value_col: str) -> DataFrame:
    """Semi-structured column analytics: extract an integer field from a
    JSON string column and aggregate per group — (grp, n, min_k, max_k,
    sum_k, sum_value_scaled).

    JSON payload columns (event props, crawl metadata sidecars) are the
    norm in web-pipeline tables; ``get_json_object`` evaluates JVM-side
    in one narrow map, so the parse rides the scan — no UDF, no shuffle
    beyond the aggregate. Rows where the path is missing or non-numeric
    drop out (``try_cast`` null). The companion double column is summed
    as int64 cents (×100) so the aggregate is reduction-order-exact.
    """
    k = F.get_json_object(F.col(json_col), path).try_cast("long")
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    return (df.select(F.col(group_col).alias("grp"), k.alias("k"),
                      cents.alias("cents"))
            .where(F.col("k").isNotNull())
            .groupBy("grp")
            .agg(F.count("*").alias("n"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.sum("k").alias("sum_k"),
                 F.sum("cents").alias("sum_value_cents")))


def pivot_counts(df: DataFrame, key_col: str, pivot_col: str,
                 values: list[str]) -> DataFrame:
    """Wide-format counts: one row per key, one ``n_<value>`` column per
    pivot value, plus ``n_total``.

    ``values`` must be EXPLICIT: with the value list pinned, ``pivot``
    compiles to a single map-side-combined aggregate of conditional
    counts (one shuffle on the key, no Expand); omitting it would add a
    driver-side distinct pass over the pivot column first — at corpus
    scale that is a full extra job before the real one. Unmatched pivot
    cells are 0, and rows with other pivot values still count toward
    ``n_total``.
    """
    agged = (df.groupBy(F.col(key_col).alias("key"))
             .pivot(pivot_col, values)
             .agg(F.count(F.lit(1))))
    total = df.groupBy(F.col(key_col).alias("_tkey")).agg(
        F.count("*").alias("n_total"))
    cols = [F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long")
            .alias(f"n_{v}") for v in values]
    # null-safe join: a NULL key is a legitimate group (GROUP BY emits
    # it); a plain equality join would silently drop it
    return (agged.join(total, agged["key"].eqNullSafe(total["_tkey"]))
            .select("key", *cols, "n_total"))
