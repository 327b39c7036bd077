"""Plain-Python text/hash helpers: the Python twin of
``functions/hashing.py``.

Who still runs them: the Arrow-batched pandas stages that have no
Column twin fast enough yet (``dedup.simhash_table``,
``dedup.winnow_fingerprints``, ``text.fingerprint_features``,
``text.lang_id_table``), and in ``plans/queries.py`` the char-trigram
UDTF and the plan-time consistent-hash ring.  Shingling itself is a JVM expression
(``hashing.shingles`` / ``dedup.shingle_hash_table``); here it is the
reference the tests check that expression against.

CRITICAL INVARIANT: these functions compute byte-identical results to
both the Column expressions in ``functions/hashing.py`` and the DuckDB
oracle SQL — same normalize regex, same md5-prefix integer hashes.
Parity is pinned by tests/test_parity_property.py and
tests/test_queries_oracle.py.
"""

from __future__ import annotations

import hashlib
import re

# Strip to ASCII alnum BEFORE lowercasing: unicode lowercasing differs
# between engines (e.g. Turkish dotted I gains a combining dot in Python
# but not in DuckDB), while ASCII lowercasing is identical everywhere —
# stripping first makes the canonical form engine-proof for ANY input.
_NORM_RE = re.compile(r"[^a-zA-Z0-9]+")


def tokens(text: str | None) -> list[str]:
    """Twin of hashing.normalize_text + split: collapse non-ASCII-
    alphanumerics to spaces, lowercase, split, drop empties."""
    if not text:
        return []
    return [t for t in _NORM_RE.sub(" ", text).lower().strip().split(" ") if t]


def shingles(toks: list[str], n: int) -> list[str]:
    """Distinct word n-grams, first-occurrence order (twin of
    hashing.shingles and the reference its tests compare against)."""
    out: list[str] = []
    seen: set[str] = set()
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def md5_int(s: str, hex_digits: int) -> int:
    """Twin of hashing.base_hash / md5_bigint: first ``hex_digits`` hex
    chars of md5 as an integer."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_digits], 16)


def normalized(text: str | None) -> str:
    if not text:
        return ""
    return _NORM_RE.sub(" ", text).lower().strip()
