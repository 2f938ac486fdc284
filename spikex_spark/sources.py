"""Sources: MySQL dump-line parsing as a distributed scan (S1/S2/F1/F4).

Reference parity: spikex streams ``.sql.gz`` MySQL dumps and parses
``INSERT INTO ... VALUES (...),(...);`` lines with a char-level state
machine plus a multiprocessing pool (``wikigraph/dumptools.py:169-281``).
Spark recast: ``spark.read.text`` over the dump + a ``mapInPandas`` parse —
partition parallelism replaces the Pool, Arrow replaces the zlib-pickle
shuttle.

Row parsers mirror ``dumptools.py``:

* page        (ns, pageid, title)       keep ns ∈ {0, 14}        (F1)
* redirect    (pageid, target_title)    ns filter applied upstream
* categorylinks (cl_from, cl_to, cl_type) keep type ∈ {page, subcat}
* title unescape: ``\\'`` → ``'``, ``\\"`` → ``"``                (F4)
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession


def split_insert_values(line: str) -> list[tuple]:
    """Split one ``INSERT INTO ... VALUES (...),(...);`` line into tuples of
    raw field strings — quote- and escape-aware char scan."""
    lower = line.lstrip()
    if not lower.upper().startswith("INSERT"):
        return []
    start = line.find("VALUES")
    if start < 0:
        return []
    body = line[start + len("VALUES"):]
    rows: list[tuple] = []
    field: list[str] = []
    row: list[str] = []
    in_quote = False
    escaped = False
    depth = 0
    for ch in body:
        if depth == 0:
            if ch == "(":
                depth = 1
                field, row = [], []
            continue
        if escaped:
            field.append(ch)
            escaped = False
            continue
        if ch == "\\" and in_quote:
            field.append(ch)
            escaped = True
            continue
        if ch == "'":
            in_quote = not in_quote
            field.append(ch)
            continue
        if in_quote:
            field.append(ch)
            continue
        if ch == ",":
            row.append("".join(field))
            field = []
            continue
        if ch == ")":
            row.append("".join(field))
            rows.append(tuple(row))
            depth = 0
            continue
        field.append(ch)
    return rows


def _unquote(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] == "'" and v[-1] == "'":
        v = v[1:-1]
    return v.replace("\\'", "'").replace('\\"', '"')


def parse_page_row(row: tuple) -> tuple | None:
    """(page_id, ns, title, ...) -> (ns, pageid, title); ns ∈ {0,14} only."""
    try:
        ns = int(row[1])
        if ns not in (0, 14):
            return None
        return (ns, int(row[0]), _unquote(row[2]))
    except (ValueError, IndexError):
        return None


def parse_redirect_row(row: tuple) -> tuple | None:
    """(rd_from, rd_namespace, rd_title, ...) -> (pageid, target_title)."""
    try:
        ns = int(row[1])
        if ns not in (0, 14):
            return None
        return (int(row[0]), _unquote(row[2]))
    except (ValueError, IndexError):
        return None


def parse_categorylinks_row(row: tuple) -> tuple | None:
    """(cl_from, cl_to, ..., cl_type) -> (cl_from, cl_to, cl_type)."""
    try:
        cl_type = _unquote(row[-1])
        if cl_type not in ("page", "subcat"):
            return None
        return (int(row[0]), _unquote(row[1]), cl_type)
    except (ValueError, IndexError):
        return None


def parse_pageprops_row(row: tuple) -> tuple | None:
    """(pp_page, pp_propname, ...) -> (pageid, prop) — the page_props dump
    feed for build_wikigraph (reference ``wikigraph/dumptools.py`` props
    iterator); filtering to hiddencat/noindex/disambiguation happens in the
    graph build, not the parser."""
    try:
        return (int(row[0]), _unquote(row[1]))
    except (ValueError, IndexError):
        return None


_PARSERS = {
    "page": (parse_page_row, "ns int, pageid long, title string"),
    "redirect": (parse_redirect_row, "pageid long, target_title string"),
    "categorylinks": (parse_categorylinks_row,
                      "cl_from long, cl_to string, cl_type string"),
    "pageprops": (parse_pageprops_row, "pageid long, prop string"),
}


def read_wiki_dump(spark: SparkSession, path: str, kind: str) -> DataFrame:
    """Distributed dump scan: text lines → parsed rows (Arrow batches)."""
    import pandas as pd

    parse_fx, schema = _PARSERS[kind]
    lines = spark.read.text(path)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split()[0] for c in schema.split(",")]
        for pdf in batches:
            out: list[tuple] = []
            for line in pdf["value"]:
                for row in split_insert_values(line):
                    parsed = parse_fx(row)
                    if parsed is not None:
                        out.append(parsed)
            yield pd.DataFrame(out, columns=cols)

    return lines.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# S3/S4 — dump version resolution + streaming download with local cache
# ---------------------------------------------------------------------------

_VERSION_HREF = __import__("re").compile(r'href="(\d{8})/?"')


def resolve_dump_version(index_html: str, version: str = "latest") -> str:
    """Pick a dump version from a dumps.wikimedia.org-style index listing
    (reference ``wikigraph/dumptools.py:50-62``: scrape the wiki index page
    for YYYYMMDD directories).

    ``version``: "latest" → newest listed date; an explicit "YYYYMMDD" must
    be present in the listing.
    """
    versions = sorted(set(_VERSION_HREF.findall(index_html)))
    if not versions:
        raise ValueError("no dump versions found in index listing")
    if version == "latest":
        return versions[-1]
    if version in versions:
        return version
    raise ValueError(
        f"version {version!r} not in listing (have {versions[-3:]}...)")


def fetch_dump(url: str, cache_dir: str, chunk_size: int = 1 << 20,
               progress=None) -> str:
    """Stream a dump URL into a local cache; returns the local path
    (reference ``wikigraph/dumptools.py:152-166``: smart_open streaming +
    on-disk cache so reruns skip the download).

    * Streams in ``chunk_size`` chunks — never holds the dump in memory.
    * Idempotent: a finished file (matching recorded length) short-circuits.
    * Resumable: an interrupted ``.part`` file resumes with an HTTP Range
      request when the server grants it (falls back to a full refetch);
      ``file://`` URLs (and the tests) stream through the same code path.
    * The cached file feeds ``read_wiki_dump`` directly (Spark's text
      reader decompresses ``.gz`` transparently).
    """
    import json as _json
    import urllib.error
    import urllib.request
    from pathlib import Path
    from urllib.parse import urlparse

    cache = Path(cache_dir)
    cache.mkdir(parents=True, exist_ok=True)
    name = Path(urlparse(url).path).name or "dump"
    dest = cache / name
    part = cache / (name + ".part")
    meta = cache / (name + ".meta.json")

    if dest.exists() and meta.exists():
        recorded = _json.loads(meta.read_text())
        if recorded.get("length") == dest.stat().st_size:
            return str(dest)

    offset = part.stat().st_size if part.exists() else 0

    def _open(with_range: bool):
        req = urllib.request.Request(url)
        if with_range:
            req.add_header("Range", f"bytes={offset}-")
        return urllib.request.urlopen(req)

    mode = "ab"
    if offset:
        try:
            resp = _open(True)
        except urllib.error.HTTPError as e:
            if e.code != 416:
                raise
            # Range Not Satisfiable: the .part may already hold the whole
            # file (killed between last chunk and rename) or be stale —
            # refetch from scratch; the size check below still applies
            offset, mode = 0, "wb"
            resp = _open(False)
        else:
            if (getattr(resp, "status", 200) or 200) != 206:
                # server ignored Range (or file:// scheme) — full refetch
                offset, mode = 0, "wb"
    else:
        resp = _open(False)
    expected = resp.headers.get("Content-Length")
    expected_total = offset + int(expected) if expected is not None else None
    with open(part, mode) as out:
        while True:
            chunk = resp.read(chunk_size)
            if not chunk:
                break
            out.write(chunk)
            if progress is not None:
                progress(out.tell())
    got = part.stat().st_size
    if expected_total is not None and got != expected_total:
        # connection closed early: keep the .part for a Range resume and
        # FAIL — promoting a short file would cache a truncated dump as
        # complete forever (the meta check compares against itself)
        raise OSError(
            f"incomplete download of {url}: got {got} of {expected_total} "
            "bytes (kept .part for resume)")
    part.replace(dest)
    if expected_total is not None:
        meta.write_text(
            _json.dumps({"url": url, "length": dest.stat().st_size}))
    else:
        # No Content-Length (chunked transfer): we cannot distinguish a
        # complete body from a connection cut mid-stream, so do NOT write
        # the completion marker — without it the short-circuit above never
        # fires and the next call revalidates by refetching, instead of
        # trusting a possibly-truncated file forever. (The meta length is
        # the file's own size, so writing it here would always "verify".)
        meta.unlink(missing_ok=True)
    return str(dest)
