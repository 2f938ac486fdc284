"""Shared pure-Python text primitives — the byte-identity anchor.

Every function here is the single source of truth used by BOTH the pytest
oracle (direct single-node calls) and the Spark Arrow-UDF stages, so the
per-url "byte-identical extracted text" invariant (BASELINE.json
``input_hint``) holds by construction; the pytest check then verifies that
the Spark plumbing (Arrow round-trip, encoding, ordering) preserves bytes.

Reference parity:

* ``extract_text``      — spikex ``pipes/wikipages.py:16-17, 50-62``
  (``_PATTERN_SEP = re.compile(r"[\\s\\n]")`` substituted per-char with
  ``"_"``; we drop the spaCy-lemma branch to stay dependency-free and
  deterministic, see SURVEY.md §7 "hard parts" #1).
* ``clean_title``       — spikex ``wikigraph/wikigraph.py:367-376`` (strip the
  FIRST ``_(qualifier)``; unchanged when no closing paren).
* ``norm_title_key``    — spikex ``wikigraph/wikigraph.py:214-229`` (cleaned,
  lowercased; falls back to the raw title when cleaning empties it).
* ``tokenize``          — lowercase alnum runs (the token-Jaccard unit).
* ``char_shingles``     — char k-grams over the normalized text (MinHash unit).

NOTE on regex dialects: we use the explicit ASCII class ``[ \\t\\n\\x0b\\f\\r]``
instead of ``\\s`` so Python (unicode ``\\s``), Java/Spark (ASCII ``\\s``) and
DuckDB/RE2 agree byte-for-byte.
"""

from __future__ import annotations

import hashlib
import re

# Explicit ASCII whitespace class — identical semantics in Python re,
# Java regex (Spark regexp_replace) and RE2 (DuckDB).
WS_CLASS = r"[ \t\n\x0b\f\r]"
_RE_WS = re.compile(WS_CLASS)
_RE_TOKEN = re.compile(r"[a-z0-9]+")


def extract_text(text: str) -> str:
    """Reference extractor: every whitespace char becomes one ``_``.

    Per-char substitution (NOT run-collapsing): ``"a  b"`` → ``"a__b"`` —
    matches spikex ``_preprocess_doc`` (``pipes/wikipages.py:62``).
    """
    return _RE_WS.sub("_", text)


def clean_title(title: str) -> str:
    """Strip the first ``_(qualifier)`` segment; spikex ``wikigraph.py:367``."""
    open_at = title.find("_(")
    if open_at < 0:
        return title
    close_at = title.find(")", open_at)
    if close_at < 0:
        return title
    return title[:open_at] + title[close_at + 1 :]


def norm_title_key(title: str) -> str:
    """Normalized-title blocking key; spikex ``wikigraph.py:214-229``."""
    key = clean_title(title).lower()
    return key if key else title


def tokenize(text: str) -> list[str]:
    """Lowercase alphanumeric token runs (token-Jaccard / blocking unit)."""
    return _RE_TOKEN.findall(text.lower())


def char_shingles(text: str, k: int = 5) -> list[str]:
    """Distinct char k-grams of the whitespace-collapsed lowercase text."""
    norm = " ".join(tokenize(text))
    if len(norm) < k:
        return [norm] if norm else []
    return sorted({norm[i : i + k] for i in range(len(norm) - k + 1)})


def md5_hex(s: str) -> str:
    """Portable hash used for MinHash signatures — identical in Spark
    (``F.md5``), DuckDB (``md5``) and Python (``hashlib.md5``)."""
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def token_jaccard(a: str, b: str) -> float:
    ta, tb = set(tokenize(a)), set(tokenize(b))
    if not ta and not tb:
        return 1.0
    if not ta or not tb:
        return 0.0
    return len(ta & tb) / len(ta | tb)


def levenshtein(a: str, b: str) -> int:
    """Standard edit distance (insert/delete/substitute, unit costs) —
    matches Spark ``levenshtein()`` and DuckDB ``levenshtein()``."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def jaro_similarity(a: str, b: str) -> float:
    """Jaro similarity — calibrated to DuckDB ``jaro_similarity`` exactly
    (verified on 3000 random pairs): window = max(len)//2 - 1 floored at 0,
    greedy left-to-right matching, transpositions = mismatched-flagged-pairs
    // 2 (INTEGER division — the RapidFuzz/DuckDB convention), and two empty
    strings score 0.0, not 1.0."""
    if a == b:
        return 1.0 if a else 0.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    a_match = [False] * la
    b_match = [False] * lb
    matches = 0
    for i in range(la):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_match[j] and a[i] == b[j]:
                a_match[i] = b_match[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(la):
        if a_match[i]:
            while not b_match[j]:
                j += 1
            if a[i] != b[j]:
                transpositions += 1
            j += 1
    t = transpositions // 2
    m = matches
    return (m / la + m / lb + (m - t) / m) / 3


def jaro_winkler(a: str, b: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler with the standard 0.7 boost threshold and 4-char prefix
    cap — calibrated against DuckDB ``jaro_winkler_similarity`` (tested)."""
    j = jaro_similarity(a, b)
    if j > 0.7:
        prefix = 0
        for ca, cb in zip(a[:4], b[:4]):
            if ca != cb:
                break
            prefix += 1
        j += prefix * prefix_weight * (1.0 - j)
    return j
