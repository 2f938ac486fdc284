"""Seeded input generator for the benchmark workloads.

Kept apart from ``spikex_spark/synth.py`` on purpose: an edit to the
engine's test fixtures must not silently change what the benchmark
measures. Every table is a pure function of ``(seed, size)``; numpy's
PCG64 stream makes the same seed give the same bytes on every run.

Each generator returns ``{name: pyarrow.Table}``, with the planted truth
as its own table next to the input it labels:

* ``entity_link``: ``pages(url, text)``, ``titles(title)`` and
  ``truth(url, entity)``.
* ``near_dup``: ``docs(doc_id, text)`` and ``truth(doc_id, family)``.
* ``incremental``: the ``near_dup`` corpus split into ``base`` and
  ``increment`` (a crawl that lands later), plus ``truth`` over both.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# each table is written as this many parquet files so Spark reads it in as
# many partitions (one small file per partition) and every core has work
N_FILES = 8

# the engine's default ERConfig.block_cap is 10_000 members per block key;
# the hub key must exceed it so the salting skew guard engages
HUB_PAGES = 10_500
HUB_TITLE = "Hub_2024_topic"

_QUALIFIERS = ["river", "town", "album", "film", "company", "species",
               "band", "novel", "ship", "mountain"]

_BOILERPLATE = (
    "copyright notice all rights reserved terms of service privacy policy "
    "cookie settings subscribe to our newsletter follow us contact about "
    "careers press accessibility sitemap help center").split()


def _vocab(rng: np.random.Generator, n: int, min_len: int = 3,
           max_len: int = 9) -> list[str]:
    """``n`` lowercase pseudo-words. Letters only: entity and hub titles
    carry digits, so filler text can never spell a dictionary key."""
    chars = rng.integers(97, 123, size=(n, max_len), dtype=np.uint8)
    lens = rng.integers(min_len, max_len + 1, size=n)
    return [chars[i, :lens[i]].tobytes().decode() for i in range(n)]


def _words(rng: np.random.Generator, vocab: list[str], k: int) -> list[str]:
    return [vocab[i] for i in rng.integers(0, len(vocab), size=k)]


def entity_link(seed: int, n_pages: int,
                hub_pages: int = HUB_PAGES) -> dict[str, pa.Table]:
    """Pages mentioning planted entities, one hub key and a boilerplate tail.

    * Entity pages: each entity is mentioned by 2-6 pages, in case variants
      that normalize to the same key. A quarter of the entity names come as
      a pair of siblings that share the name and differ in the qualifier
      (``Kelmar_417_(river)`` / ``Kelmar_417_(town)``): they share a
      blocking key and scoring must keep them apart.
    * Hub pages: ``hub_pages`` pages mention the hub title; the default
      makes its block exceed the block cap, so it is salted.
    * Boilerplate tail: the rest are long template pages with no mention.
    * ``titles`` also lists as many never-mentioned decoy titles as
      entities, so the dictionary is larger than its mentioned part.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, 50_000)
    n_tail = max(1, n_pages // 10)
    n_entity_pages = n_pages - hub_pages - n_tail
    if n_entity_pages < 100:
        raise ValueError(f"n_pages={n_pages} leaves no room for entity pages")

    titles: list[str] = []
    urls: list[str] = []
    texts: list[str] = []
    labels: list[str] = []

    def page(kind: str, text: str, label: str | None) -> None:
        url = f"https://site{len(urls) % 17}.example/{kind}/{len(urls):07d}"
        urls.append(url)
        texts.append(text)
        labels.append(label if label is not None else url)

    def noise(lo: int, hi: int) -> str:
        return " ".join(_words(rng, vocab, int(rng.integers(lo, hi + 1))))

    e = 0
    while len(urls) < n_entity_pages:
        name = vocab[int(rng.integers(0, len(vocab)))].capitalize()
        quals = rng.choice(len(_QUALIFIERS), size=2, replace=False)
        n_sib = 2 if rng.random() < 0.25 else 1
        for q in quals[:n_sib]:
            title = f"{name}_{e}_({_QUALIFIERS[q]})"
            titles.append(title)
            mention = title.replace("_", " ")
            variants = (mention, mention.lower(), mention.upper())
            for p in range(int(rng.integers(2, 7))):
                if len(urls) >= n_entity_pages:
                    break
                page("e", f"{noise(8, 30)} {variants[p % 3]} {noise(2, 12)}",
                     title)
        e += 1
    titles.append(HUB_TITLE)
    hub_mention = HUB_TITLE.replace("_", " ")
    for _ in range(hub_pages):
        page("hub", f"{noise(4, 16)} {hub_mention} {noise(2, 8)}", HUB_TITLE)
    boiler = " ".join(_BOILERPLATE)
    for _ in range(n_tail):
        reps = int(rng.integers(6, 20))
        page("tail", " ".join([boiler] * reps) + " " + noise(2, 6), None)
    for d in range(e):
        titles.append(f"{vocab[int(rng.integers(0, len(vocab)))].capitalize()}"
                      f"_{e + d}_(decoy)")

    order = rng.permutation(len(urls))
    pages = pa.table({"url": pa.array(urls).take(order),
                      "text": pa.array(texts).take(order)})
    truth = pa.table({"url": pa.array(urls), "entity": pa.array(labels)})
    return {"pages": pages, "titles": pa.table({"title": titles}),
            "truth": truth}


def near_dup(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """Documents with planted near-duplicate families over an open
    vocabulary, plus a long-document tail.

    * Families: about 60% of the docs, in families of 2-12 members. Each
      member is the family's base text with 1-3 word substitutions.
    * Singletons: unrelated docs of 40-120 words.
    * Long tail: 1% of the docs are singletons of 1.5k-4k words.
    The vocabulary has 200k words: with a small closed vocabulary, LSH
    buckets saturate and the workload measures a generator artifact.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 200_000)
    n_long = max(1, n_docs // 100)
    n_family_docs = int(n_docs * 0.6)
    texts: list[str] = []
    labels: list[int] = []

    fam = 0
    while len(texts) < n_family_docs:
        base = _words(rng, vocab, int(rng.integers(40, 121)))
        for _ in range(min(int(rng.integers(2, 13)),
                           n_family_docs - len(texts))):
            doc = list(base)
            for pos in rng.integers(0, len(doc), size=int(rng.integers(1, 4))):
                doc[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(doc))
            labels.append(fam)
        fam += 1
    while len(texts) < n_docs - n_long:
        texts.append(" ".join(_words(rng, vocab, int(rng.integers(40, 121)))))
        labels.append(fam)
        fam += 1
    while len(texts) < n_docs:
        texts.append(" ".join(_words(rng, vocab, int(rng.integers(1500, 4001)))))
        labels.append(fam)
        fam += 1

    # ids are a permutation, so family members are not id-adjacent
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    docs = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)})
    truth = pa.table({"doc_id": pa.array(ids),
                      "family": pa.array(labels, pa.int64())})
    order = np.argsort(ids)
    return {"docs": docs.take(order), "truth": truth.take(order)}


def incremental(seed: int, n_docs: int,
                increment_share: float = 0.15) -> dict[str, pa.Table]:
    """The ``near_dup`` corpus split into a ``base`` crawl and a later
    ``increment`` drawn at random from it, so families straddle the two."""
    t = near_dup(seed, n_docs)
    docs = t["docs"]
    rng = np.random.default_rng([seed, 3])
    is_new = np.zeros(docs.num_rows, dtype=bool)
    n_new = round(docs.num_rows * increment_share)
    is_new[rng.choice(docs.num_rows, size=n_new, replace=False)] = True
    return {"base": docs.filter(pa.array(~is_new)),
            "increment": docs.filter(pa.array(is_new)),
            "truth": t["truth"]}


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table as ``N_FILES`` parquet files under
    ``out_dir/<name>``; returns name -> directory."""
    paths = {}
    for name, table in tables.items():
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // N_FILES)
        for i in range(N_FILES):
            part = table.slice(i * step, step)
            pq.write_table(part, os.path.join(d, f"part-{i:02d}.parquet"))
        paths[name] = d
    return paths
