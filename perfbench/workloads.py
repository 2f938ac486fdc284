"""The benchmark's workloads: seeded inputs, the timed call through the
public pipeline entry point, and the checks on its output.

A workload's life in one invocation:

1. ``prepare()`` writes its inputs as parquet (set-up; repeatable).
2. ``open(spark)`` binds the session; ``incremental`` bootstraps its
   durable ledger here (set-up).
3. ``run()`` is one timed run, from the input parquet to the complete
   result, collected to the driver as an Arrow table.
4. ``after_run()`` removes, untimed, whatever the run left on disk.
5. ``check(result)`` is the once-per-invocation, untimed output check.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections import Counter

import pyarrow as pa

import gen


def digest(result: pa.Table, id_col: str) -> str:
    """Order-insensitive digest of the ``(id, cluster_id)`` assignment."""
    rows = sorted(zip(result.column(id_col).to_pylist(),
                      result.column("cluster_id").to_pylist()))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _pair_counts(members: list[tuple]) -> tuple[int, int, int]:
    """(true positives, predicted pairs, true pairs) over the pairs of
    ``members``, a list of ``(cluster_id, label)``."""
    def pairs(counter: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counter.values())
    return (pairs(Counter(members)), pairs(Counter(c for c, _ in members)),
            pairs(Counter(lab for _, lab in members)))


def pair_f1(result: pa.Table, truth: pa.Table, id_col: str, label_col: str,
            excluded_label=None) -> float:
    """Pairwise F1 of the predicted clusters against the planted labels.

    Pairs whose two records both carry ``excluded_label`` are left out of
    every count (predicted, true and both).
    """
    label = dict(zip(truth.column(id_col).to_pylist(),
                     truth.column(label_col).to_pylist()))
    members = [(c, label[i]) for i, c in
               zip(result.column(id_col).to_pylist(),
                   result.column("cluster_id").to_pylist())]
    tp, pred, true = _pair_counts(members)
    if excluded_label is not None:
        ex = _pair_counts([m for m in members if m[1] == excluded_label])
        tp, pred, true = tp - ex[0], pred - ex[1], true - ex[2]
    if tp == 0:
        return 0.0
    precision, recall = tp / pred, tp / true
    return 2 * precision * recall / (precision + recall)


def table_digest(paths: dict[str, str]) -> str:
    """Digest of the written input files, to show that the generator gave
    the same bytes each time it ran."""
    h = hashlib.sha256()
    for name in sorted(paths):
        for f in sorted(os.listdir(paths[name])):
            with open(os.path.join(paths[name], f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class EntityLink:
    """``resolve_entities(pages, titles)`` over planted entity clusters, one
    hub key and a boilerplate tail (see ``gen.entity_link``)."""

    name = "entity-link"
    id_col = "url"
    n_pages = 16_000
    # hub pairs are left out of pair_f1: salting splits the hub block into
    # 16 cells by design, trading that block's recall for bounded pairs
    min_pair_f1 = 0.95

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.paths: dict[str, str] = {}

    def prepare(self) -> str:
        d = os.path.join(self.work_dir, "inputs")
        shutil.rmtree(d, ignore_errors=True)
        self.tables = gen.entity_link(self.seed, self.n_pages)
        self.paths = gen.write(self.tables, d)
        return table_digest(self.paths)

    def open(self, spark) -> float:
        self.spark = spark
        return 0.0

    def build(self):
        """The pipeline call; returns once the result DataFrame is built."""
        from spikex_spark.pipeline import resolve_entities

        pages = self.spark.read.parquet(self.paths["pages"])
        titles = self.spark.read.parquet(self.paths["titles"])
        return resolve_entities(pages, titles)

    def run(self) -> pa.Table:
        return self.build().toArrow()

    def after_run(self) -> None:
        pass

    def input_pages(self) -> int:
        return self.tables["pages"].num_rows

    def quality(self, result: pa.Table) -> float:
        return pair_f1(result, self.tables["truth"], "url", "entity",
                       excluded_label=gen.HUB_TITLE)

    def check(self, result: pa.Table) -> list[str]:
        errors = []
        if result.num_rows != self.input_pages():
            errors.append(f"{result.num_rows} result rows for "
                          f"{self.input_pages()} pages")
        return errors


class Incremental:
    """``resolve_documents_incremental`` over a crawl increment, extending a
    durable ledger that set-up bootstraps over the base corpus with
    ``resolve_documents_resumable`` (see ``gen.incremental``)."""

    name = "incremental"
    id_col = "doc_id"
    n_docs = 2_000
    min_pair_f1 = 0.8

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.paths: dict[str, str] = {}
        self._runs = 0
        self._ledgers: list[str] = []

    def prepare(self) -> str:
        d = os.path.join(self.work_dir, "inputs")
        shutil.rmtree(d, ignore_errors=True)
        self.tables = gen.incremental(self.seed, self.n_docs)
        self.paths = gen.write(self.tables, d)
        return table_digest(self.paths)

    def _docs(self, name: str):
        return self.spark.read.parquet(self.paths[name])

    @property
    def base_ledger(self) -> str:
        return os.path.join(self.work_dir, "ledger-base")

    def open(self, spark) -> float:
        """Bootstrap the durable base ledger; returns its wall seconds."""
        import time

        from spikex_spark.lineage import resolve_documents_resumable

        self.spark = spark
        shutil.rmtree(self.base_ledger, ignore_errors=True)
        t0 = time.perf_counter()
        resolve_documents_resumable(spark, self._docs("base"),
                                    self.base_ledger, fingerprint="base")
        return time.perf_counter() - t0

    def new_ledger(self) -> str:
        self._runs += 1
        path = os.path.join(self.work_dir, f"ledger-run{self._runs}")
        self._ledgers.append(path)
        return path

    def build(self):
        """The pipeline call; it writes every stage of the new ledger and
        returns the clusters stage as a DataFrame."""
        from spikex_spark.lineage import resolve_documents_incremental

        return resolve_documents_incremental(
            self.spark, self._docs("increment"), self._docs("base"),
            self.base_ledger, self.new_ledger(), fingerprint="increment")

    def run(self) -> pa.Table:
        return self.build().toArrow()

    def after_run(self) -> None:
        while self._ledgers:
            shutil.rmtree(self._ledgers.pop(), ignore_errors=True)

    def input_pages(self) -> int:
        return self.tables["increment"].num_rows

    def quality(self, result: pa.Table) -> float:
        return pair_f1(result, self.tables["truth"], "doc_id", "family")

    def check(self, result: pa.Table) -> list[str]:
        """The documented contract: extending the ledger gives the same
        clusters as ``resolve_documents`` over base ∪ increment."""
        from spikex_spark.pipeline import resolve_documents

        full = resolve_documents(
            self._docs("base").unionByName(self._docs("increment"))).toArrow()
        if digest(full, "doc_id") != digest(result, "doc_id"):
            return ["incremental result differs from resolve_documents over "
                    "base + increment"]
        return []


WORKLOADS = {w.name: w for w in (EntityLink, Incremental)}
