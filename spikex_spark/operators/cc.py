"""Stage 6 — transitive clustering: connected components on match edges.

Reference parity: spikex merges overlapping "balls" transitively via repeated
set scans (``pipes/clusters.py:154-212``, G3/U3). At cluster scale that
becomes connected components over the match-edge graph, computed with the
alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond" — the PAPERS.md reference), which
converges in O(log n) rounds of hash-join + partial-agg steps.

Algorithm (node ids must be orderable; we map arbitrary ids to longs first):

* large-star: for every node u, link every STRICTLY LARGER neighbor v to
  m(u) = min(N(u) ∪ {u}).
* small-star: for every node u, link every neighbor v ≤ u (and u itself) to
  m(u) = min(N≤(u) ∪ {u}).
* repeat until the edge set is stable → edges form stars rooted at component
  minima.

Scale notes:

* Each round = 2 shuffles (groupBy min + join); AQE coalesces.
* ``localCheckpoint`` every round truncates lineage — without it the plan
  doubles per round and the driver OOMs on plan strings long before data
  hurts (SURVEY.md §7 risk #3).
* Convergence check is a cheap count of changed edges (a scalar agg, no
  collect of data rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = und.groupBy("a").agg(F.min("b").alias("m"))
    mins = mins.select("a", F.least("m", F.col("a")).alias("m"))
    out = (
        und.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("src"), F.col("m").alias("dst"))
    )
    return _canon(out)


def _small_star(e: DataFrame) -> DataFrame:
    # direct edges from larger to smaller: u = max, v = min
    d = e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    linked = (
        d.join(mins, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .union(mins.select(F.col("u").alias("src"), F.col("m").alias("dst")))
    )
    return _canon(linked)


# Driver-path ceiling, in EDGES (the collect is bounded at threshold+1 rows
# by construction — `limit(threshold+1).toArrow()`). Raised from 2M after
# an A/B on a real 2.2M-edge match graph (200k-doc corpus): distributed
# 9.4 s vs Arrow union-find 1.6 s, identical assignments (diff: 0) — below
# ~10M edges the per-round shuffles + checkpoints are pure overhead.
SMALL_GRAPH_EDGES = 8_000_000

# The bound under the ceiling comes from the driver heap
# (``driver_edge_bound``): the edge collect may take DRIVER_HEAP_SHARE of
# it, and each edge holds its two ids DRIVER_COPIES times over (the JVM's
# collected Arrow batches, the Python copy, the dictionary-encode scratch).
# A string id counts STRING_ID_BYTES (~32 B of data + its offset); a
# fixed-width id its width. 8M bigint edges = 384 MB, 8M string edges =
# 1.7 GB: too much for a default 1g driver, which now keeps the distributed
# large-star/small-star path for them.
DRIVER_HEAP_SHARE = 0.25
DRIVER_COPIES = 3
STRING_ID_BYTES = 36
_ID_BYTES = {"tinyint": 1, "smallint": 2, "int": 4, "date": 4, "float": 4,
             "bigint": 8, "double": 8, "timestamp": 8, "timestamp_ntz": 8}


def driver_edge_bound(heap_bytes: int, id_type) -> int:
    """The most edges the CC driver path may collect on a driver with
    ``heap_bytes`` of heap, for ids of Spark type ``id_type``: at most
    ``SMALL_GRAPH_EDGES``. E.g. a 1 GiB heap holds 5.6M bigint edges but
    only 1.2M string edges; 8M string edges need a 6.4 GiB heap."""
    width = _ID_BYTES.get(id_type.simpleString(), STRING_ID_BYTES)
    fit = int(heap_bytes * DRIVER_HEAP_SHARE) // (2 * width * DRIVER_COPIES)
    return min(SMALL_GRAPH_EDGES, fit)


def _driver_heap_bytes(spark) -> int:
    """The driver JVM's maximum heap: one py4j call, no Spark job."""
    return spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()


def _propagate_labels(ia, ib, n_nodes):
    """Min-label propagation with pointer jumping over edge code arrays —
    the numpy core of the Arrow driver path (and of the pandas oracle in
    ``tests/test_cc.py``). Returns the converged label array (a consistent
    per-component representative in code space, NOT yet the min original
    id)."""
    import numpy as np

    lab = np.arange(n_nodes)
    while True:
        prev = lab
        nxt = lab.copy()
        np.minimum.at(nxt, ia, lab[ib])
        np.minimum.at(nxt, ib, lab[ia])
        while True:
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        lab = nxt
        if np.array_equal(prev, lab):
            break
    return lab


def _arrow_components(tbl) -> "tuple":
    """(ids, components) as pyarrow Arrays for the small-graph driver path.

    Vectorized min-label propagation (``_propagate_labels``) over
    dictionary-encoded ids; a dict/loop union-find spends ~10s of pure-Python
    time at 2M edges — a SERIAL fraction that caps strong-scaling of the
    whole pipeline. The string-heavy steps stay in Arrow C++:
    ``dictionary_encode`` instead of ``pd.factorize`` (no object-dtype
    conversion of millions of URLs) and ``sort_indices`` over the unique
    dictionary instead of a row-space argsort. Measured at 1.1M url-string
    edges: 4.0s (pandas) -> 1.6s, ALL of it serial driver time the rest of
    the cluster spends idle on — the single largest Amdahl term in the
    strong-scaling profile at bench scale. ``tests/test_cc.py`` checks it
    against a pandas twin and a dict union-find oracle.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    a = tbl.column("a").combine_chunks()
    b = tbl.column("b").combine_chunks()
    enc = pc.dictionary_encode(pa.concat_arrays([a, b]))
    codes = enc.indices.to_numpy()          # int32, null-free -> zero-copy
    uniq = enc.dictionary
    ia, ib = codes[: len(a)], codes[len(a):]
    lab = _propagate_labels(ia, ib, len(uniq))
    # code-space roots -> true component min id, ranked via ONE Arrow sort
    # of the ~n_unique dictionary (not the 2x-edges row space)
    sort_idx = pc.sort_indices(uniq).to_numpy().astype(np.int64)
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[sort_idx] = np.arange(len(uniq))
    min_rank = np.full(len(uniq), len(uniq), dtype=np.int64)
    np.minimum.at(min_rank, lab, rank)
    comps = pc.take(uniq, pa.array(sort_idx[min_rank[lab]]))
    return uniq, comps


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25,
                         small_graph_threshold: int | None = None) -> DataFrame:
    """Return (id, component) — component = min node id reachable.

    Adaptive physical strategy: the match-edge graph after blocking+scoring
    is usually TINY relative to the corpus (most pages are singletons), so
    when the deduped edge count fits comfortably on the driver we run
    union-find there in one job — large-star/small-star pays ~4 shuffles +
    a checkpoint PER ROUND, which is pure overhead below millions of edges.
    Above the threshold the O(log n)-round distributed algorithm runs.
    ``edges`` may use any orderable id type; isolated nodes don't appear
    (callers union them back with component = own id).
    ``small_graph_threshold`` defaults to ``driver_edge_bound`` of the
    driver's heap and the id type.
    """
    spark = edges.sparkSession
    e = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    if small_graph_threshold is None:
        small_graph_threshold = driver_edge_bound(
            _driver_heap_bytes(spark), e.schema["a"].dataType)
    # ONE job decides the strategy AND loads the small-graph edges:
    # limit(threshold+1).toArrow() returns every edge when the graph is
    # small (the common case) — the previous checkpoint + count() + collect
    # sequence was three serial driver-side jobs per run, a fixed cost that
    # eats strong-scaling headroom (same fusion as pipeline._mentions'
    # dictionary probe)
    head = e.limit(small_graph_threshold + 1).toArrow()
    if head.num_rows == 0:
        return spark.createDataFrame([], schema=e.select(
            F.col("a").alias("id"), F.col("a").alias("component")).schema)
    if head.num_rows <= small_graph_threshold:
        # Arrow END TO END: toArrow in (py4j row collect of 100k+ rows is
        # 30-60s and wildly variable; toPandas adds an object-dtype copy of
        # every string), dictionary-encoded numpy label propagation in the
        # middle, and createDataFrame(pa.Table) back out
        import pyarrow as pa

        ids, comps = _arrow_components(head)
        out_schema = e.select(
            F.col("a").alias("id"), F.col("a").alias("component")).schema
        return spark.createDataFrame(
            pa.table({"id": ids, "component": comps}), schema=out_schema)
    # distributed large-star/small-star path: checkpoint so each round's
    # input is materialized, not the whole history recomputed
    e = e.localCheckpoint()
    prev_sig = None
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        # convergence: (count, order-insensitive hash) fingerprint — one
        # cheap agg instead of two anti-joins per round
        sig = tuple(
            e2.agg(
                F.count("*"),
                # decimal sum: int64 would overflow under ANSI mode
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
            ).collect()[0]
        )
        e = e2
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged stars are rooted at the component MIN, so in canonical
    # (a < b) form the root is `a` and members are `b`
    members = e.select(F.col("b").alias("id"), F.col("a").alias("component"))
    roots = e.select(F.col("a").alias("id"), F.col("a").alias("component")).distinct()
    return members.unionByName(roots).groupBy("id").agg(
        F.min("component").alias("component")
    )


def cluster_assignments(edges: DataFrame, all_ids: DataFrame,
                        id_col: str = "id",
                        ids_unique: bool = False) -> DataFrame:
    """(id, cluster_id) for EVERY id — singletons get their own id.

    ``ids_unique``: skip the defensive ``distinct()`` (one exchange +
    aggregate over the full id set) when the caller passes a primary-key
    column — e.g. ``resolve_documents``' doc_id contract. Values are
    identical by definition for unique inputs; block-membership callers
    (ids repeated per block) keep the default."""
    comp = connected_components(edges)
    ids = all_ids.select(F.col(id_col).alias("id"))
    if not ids_unique:
        ids = ids.distinct()
    return ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("cluster_id")
    )


def refine_oversized(clusters: DataFrame, matched: DataFrame,
                     max_size: int = 50,
                     id_col: str = "doc_id",
                     cluster_col: str = "cluster_id",
                     id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Giant-entity breaker: re-cluster every cluster exceeding
    ``max_size`` over only the STRONGER edges the caller passes
    (``matched`` pre-filtered to a higher threshold), leaving small
    clusters untouched.

    Transitive closure occasionally welds a mega-cluster out of
    boilerplate chains; production MDM systems cap entity size and
    re-resolve the oversized ones under stricter evidence (the
    complement of ``graph.mutual_knn_edges``, which prevents; this
    repairs). Refined sub-cluster ids are the min member id, which
    cannot collide with any untouched cluster's id (ids are min
    members of disjoint record sets).

    Scale shape: one size groupBy, two member equi-joins restricting
    the strong edges to intra-big-cluster pairs, then
    ``cluster_assignments`` over ONLY the oversized membership — the
    re-clustering never touches the (typically overwhelming) small
    majority.
    """
    sizes = clusters.groupBy(cluster_col).agg(F.count("*").alias("_n"))
    cl = clusters.select(id_col, cluster_col).join(sizes, cluster_col)
    small = (cl.where(F.col("_n") <= max_size)
             .select(id_col, cluster_col))
    bigm = (cl.where(F.col("_n") > max_size)
            .select(id_col, cluster_col))
    e = (matched.select(id_a, id_b)
         .join(bigm.select(F.col(id_col).alias(id_a),
                           F.col(cluster_col).alias("_ca")), id_a)
         .join(bigm.select(F.col(id_col).alias(id_b),
                           F.col(cluster_col).alias("_cb")), id_b)
         .where(F.col("_ca") == F.col("_cb"))
         .select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
    refined = (cluster_assignments(e, bigm.select(id_col), id_col=id_col)
               .select(F.col("id").alias(id_col),
                       F.col("cluster_id").alias(cluster_col)))
    return small.unionByName(refined)
