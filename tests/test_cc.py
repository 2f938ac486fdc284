"""Connected components vs a union-find oracle (G3, large/small-star)."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from spikex_spark.operators.cc import (
    _propagate_labels,
    cluster_assignments,
    connected_components,
)


def _union_find_oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        mn = min(members)
        for n in members:
            out[n] = mn
    return out


def _numpy_components(pdf) -> tuple:
    """(ids, component_ids) — the pandas twin of the engine's Arrow
    small-graph path (``cc._arrow_components``): the same label propagation,
    with ids mapped to dense ints by ``pd.factorize`` and the component min
    found by a numpy argsort instead of Arrow's dictionary sort."""
    a = pdf["a"].to_numpy()
    b = pdf["b"].to_numpy()
    codes, ids = pd.factorize(np.concatenate([a, b]))
    ids = np.asarray(ids)
    ia, ib = codes[: len(a)], codes[len(a):]
    lab = _propagate_labels(ia, ib, len(ids))
    # code-space roots -> true component min id, via ONE argsort of the ids
    # and integer rank minima
    perm = np.argsort(ids, kind="stable")
    rank = np.empty(len(ids), dtype=np.int64)
    rank[perm] = np.arange(len(ids))
    min_rank = np.full(len(ids), len(ids), dtype=np.int64)
    np.minimum.at(min_rank, lab, rank)
    return ids, ids[perm[min_rank[lab]]]


def test_small_graphs(spark):
    cases = {
        "path": [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "cycle": [(1, 2), (2, 3), (3, 1), (7, 8)],
        "star": [(5, 1), (5, 2), (5, 3), (5, 4)],
        "self_loops": [(1, 1), (1, 2), (2, 2)],
    }
    for name, edges in cases.items():
        nodes = sorted({u for e in edges for u in e})
        gold = _union_find_oracle(edges, nodes)
        e = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.id: r.component for r in connected_components(e).collect()}
        # isolated-by-self-loop nodes are absent from CC output; compare on
        # nodes that have at least one real edge
        real = {u for a, b in edges if a != b for u in (a, b)}
        assert got == {n: gold[n] for n in real}, name


def test_random_graph_vs_union_find_both_paths(spark):
    rng = random.Random(99)
    edges = [(rng.randint(0, 400), rng.randint(0, 400)) for _ in range(500)]
    edges = [(u, v) for u, v in edges if u != v]
    nodes = sorted({u for e in edges for u in e})
    gold = _union_find_oracle(edges, nodes)
    e = spark.createDataFrame(edges, ["src", "dst"])
    # driver union-find fast path (default for small graphs)
    got = {r.id: r.component for r in connected_components(e).collect()}
    assert got == gold
    # distributed large-star/small-star path (forced)
    got_dist = {r.id: r.component for r in
                connected_components(e, small_graph_threshold=0).collect()}
    assert got_dist == gold


def test_empty_edges(spark):
    from pyspark.sql import types as T
    e = spark.createDataFrame([], schema=T.StructType([
        T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())]))
    assert connected_components(e).count() == 0
    ids = spark.createDataFrame([(1,), (2,)], ["id"])
    got = {r.id: r.cluster_id for r in cluster_assignments(e, ids).collect()}
    assert got == {1: 1, 2: 2}


def test_cluster_assignments_includes_singletons(spark):
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    ids = spark.createDataFrame([("a",), ("b",), ("z",)], ["id"])
    got = {r.id: r.cluster_id for r in cluster_assignments(e, ids).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_numpy_components_matches_dict_union_find():
    rng = random.Random(7)
    for trial in range(20):
        n = rng.randint(2, 120)
        m = rng.randint(1, 250)
        edges = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)]
        edges = [(min(u, v), max(u, v)) for u, v in edges if u != v]
        if not edges:
            continue
        gold = _union_find_oracle(edges, sorted({u for e in edges for u in e}))
        pdf = pd.DataFrame(edges, columns=["a", "b"])
        ids, comps = _numpy_components(pdf)
        got = dict(zip(ids.tolist(), comps.tolist()))
        assert got == gold, trial


def test_numpy_components_string_ids():
    pdf = pd.DataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], columns=["a", "b"])
    ids, comps = _numpy_components(pdf)
    got = dict(zip(ids.tolist(), comps.tolist()))
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_arrow_components_matches_numpy_twin():
    """_arrow_components (the production small-graph path) must agree with
    _numpy_components (the pandas semantics twin) on random graphs, for
    string AND int node ids — including the min-original-id component
    representative, where the two paths rank via different sorts (Arrow
    sort_indices on the dictionary vs numpy argsort on factorize order)."""
    import pyarrow as pa

    from spikex_spark.operators.cc import _arrow_components

    rng = random.Random(11)
    for trial in range(20):
        n = rng.randint(2, 120)
        m = rng.randint(1, 250)
        raw = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)]
        raw = [(min(u, v), max(u, v)) for u, v in raw if u != v]
        if not raw:
            continue
        for to_id in (str, int):
            edges = [(to_id(u), to_id(v)) for u, v in raw]
            pdf = pd.DataFrame(edges, columns=["a", "b"])
            ids_n, comps_n = _numpy_components(pdf)
            gold = dict(zip(ids_n.tolist(), comps_n.tolist()))
            tbl = pa.table({"a": [e[0] for e in edges],
                            "b": [e[1] for e in edges]})
            ids_a, comps_a = _arrow_components(tbl)
            got = dict(zip(ids_a.to_pylist(), comps_a.to_pylist()))
            assert got == gold, (trial, to_id)


def test_refine_oversized_splits_only_big_clusters(spark):
    from pyspark.sql import functions as F
    from spikex_spark.operators.cc import refine_oversized

    # cluster 1 = {1..5} (oversized), cluster 10 = {10, 11} (small)
    clusters = spark.createDataFrame(
        [(i, 1) for i in range(1, 6)] + [(10, 10), (11, 10)],
        "doc_id bigint, cluster_id bigint")
    # strong edges keep {1,2,3} together and {4,5} together
    strong = spark.createDataFrame(
        [(1, 2, 0.95), (2, 3, 0.92), (4, 5, 0.99), (10, 11, 0.95)],
        "id_a bigint, id_b bigint, score double")
    out = refine_oversized(clusters, strong, max_size=4)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 4
    # the small cluster is untouched even though it has a strong edge
    assert got[10] == got[11] == 10
    assert len(got) == 7


def test_refine_oversized_isolated_members_become_singletons(spark):
    from spikex_spark.operators.cc import refine_oversized

    clusters = spark.createDataFrame(
        [(i, 1) for i in range(1, 5)], "doc_id bigint, cluster_id bigint")
    strong = spark.createDataFrame(
        [(1, 2, 0.95)], "id_a bigint, id_b bigint, score double")
    got = {r["doc_id"]: r["cluster_id"]
           for r in refine_oversized(clusters, strong, max_size=2)
           .collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 4}


def test_driver_edge_bound_follows_heap_and_id_width():
    """The CC driver path collects at most a quarter of the driver heap
    (three copies of two ids per edge), never more than
    SMALL_GRAPH_EDGES; string ids get fewer edges than long ids."""
    from pyspark.sql import types as T

    from spikex_spark.operators.cc import (
        DRIVER_COPIES,
        SMALL_GRAPH_EDGES,
        STRING_ID_BYTES,
        driver_edge_bound,
    )

    gib = 1 << 30
    assert driver_edge_bound(gib, T.LongType()) == 5_592_405
    assert driver_edge_bound(gib, T.StringType()) == 1_242_756
    assert driver_edge_bound(gib, T.IntegerType()) == SMALL_GRAPH_EDGES
    for dt, width in ((T.LongType(), 8), (T.StringType(), STRING_ID_BYTES)):
        assert driver_edge_bound(64 * gib, dt) == SMALL_GRAPH_EDGES
        assert driver_edge_bound(0, dt) == 0
        for heap in (gib // 2, gib, 2 * gib, 3 * gib):
            n = driver_edge_bound(heap, dt)
            assert n * 2 * width * DRIVER_COPIES <= heap // 4
            assert n == SMALL_GRAPH_EDGES or \
                (n + 1) * 2 * width * DRIVER_COPIES > heap // 4
    assert driver_edge_bound(2 * gib, T.StringType()) < \
        driver_edge_bound(2 * gib, T.LongType())


def test_small_driver_heap_takes_distributed_path(spark, monkeypatch):
    """A graph over the heap-derived bound runs the distributed rounds,
    not the driver collect, and gives the same components."""
    from spikex_spark.operators import cc as CC

    rng = random.Random(11)
    edges = [(f"n{rng.randint(0, 80)}", f"n{rng.randint(0, 80)}")
             for _ in range(120)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    want = {tuple(r) for r in CC.connected_components(e).collect()}

    def no_driver_path(tbl):
        raise AssertionError("driver path taken over the heap bound")

    monkeypatch.setattr(CC, "_driver_heap_bytes", lambda spark: 1 << 12)
    monkeypatch.setattr(CC, "_arrow_components", no_driver_path)
    assert CC.driver_edge_bound(1 << 12, e.schema["src"].dataType) < 100
    assert {tuple(r) for r in CC.connected_components(e).collect()} == want
