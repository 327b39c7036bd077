"""Hashing column expressions shared by row-hash, dedup and LSH ops.

All helpers return JVM-side ``Column`` expressions (whole-stage
codegen-able) — no Python UDFs.  Where an operator needs a
DuckDB-expressible twin for the oracle harness, the same md5-based
construction is used on both sides (DuckDB: ``('0x'||substr(md5(x),1,15))::BIGINT``,
Spark: ``conv(substr(md5(x),1,15),16,10)::BIGINT``).
"""

from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F

# 15 hex digits = 60 bits, always fits BIGINT (16^15 - 1 < 2^63 - 1).
MD5_HEX_DIGITS = 15


def md5_bigint(
    col: Column | str, seed: int = 0, hex_digits: int = MD5_HEX_DIGITS
) -> Column:
    """Deterministic integer hash of a string column: its md5's first
    ``hex_digits`` hex digits (60 bits by default).

    Engine-portable (Spark `conv` == DuckDB hex cast), unlike
    ``xxhash64``/``hash`` whose implementations differ per engine.
    ``seed`` derives independent hash families for MinHash.
    """
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(F.lit(f"{seed}|"), c) if seed else c
    return F.conv(F.substring(F.md5(salted), 1, hex_digits), 16, 10).cast("bigint")


def row_hash(cols: list[str], out: str = "row_hash_code") -> Column:
    """MD5 row fingerprint, reference-parity byte format.

    The reference builds ``'(' + ','.join(str(v) for v in row) + ')'``
    with nulls as ``''`` and md5-hexdigests it
    (/root/reference/utils/dataframe_operations.py:73-90).  Same
    construction here, with Spark's string casts as the canonical
    stringification (documented deviation from pandas ``str()`` repr
    quirks — SURVEY.md §7.3 "hard parts").
    """
    joined = F.concat_ws(
        ",", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    )
    return F.md5(F.concat(F.lit("("), joined, F.lit(")"))).alias(out)


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting: strip non-ASCII-
    alphanumerics to single spaces FIRST, then lowercase, trim.
    Strip-before-lower makes the form engine-proof: unicode
    lowercasing differs across engines (Turkish dotted I etc.), ASCII
    lowercasing never does.  Only ASCII is left to lowercase, so a
    26-letter ``translate`` does it: the same bytes as ``lower``
    without loading the JVM's ICU case mapping (1.2-1.4 s on the first
    ``lower`` of a session, 4-vCPU host)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.translate(
            F.regexp_replace(c, r"[^a-zA-Z0-9]+", " "),
            string.ascii_uppercase,
            string.ascii_lowercase,
        )
    )


def shingles(col: Column | str, n: int = 5) -> Column:
    """Distinct word ``n``-grams of a text column, first-occurrence
    order (for MinHash / Jaccard; twin of ``pytext.shingles``).

    One ``regexp_extract_all`` over ``normalize_text(col)``, whose
    tokens are single-space separated with no outer spaces: at every
    token start a lookahead captures the next ``n`` tokens, so the
    grams overlap while the match itself consumes only the boundary.
    No per-gram array building and no lambda.  NULL text is read as
    ``""``, so it gives ``[]``; ``array_distinct`` keeps first
    occurrences in order."""
    c = F.col(col) if isinstance(col, str) else col
    pattern = f"(?:^| )(?=([a-z0-9]+(?: [a-z0-9]+){{{n - 1}}})(?: |$))"
    text = normalize_text(F.coalesce(c, F.lit("")))
    return F.array_distinct(F.regexp_extract_all(text, F.lit(pattern), 1))


# Universal-hash family for MinHash: h_i(x) = (a_i*x + b_i) mod P over a
# 28-bit base hash.  28-bit base keeps a_i*x < 2^58 (no BIGINT overflow
# in either Spark or DuckDB); P is the Mersenne prime 2^31-1.
MINHASH_PRIME = 2_147_483_647
BASE_HASH_HEX_DIGITS = 7  # 28 bits


def minhash_params(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) derived from md5 — shared with the
    DuckDB oracle generator."""
    import hashlib as _hl

    a = int(_hl.md5(f"minhash-a-{i}".encode()).hexdigest()[:7], 16) | 1
    b = int(_hl.md5(f"minhash-b-{i}".encode()).hexdigest()[:7], 16)
    return a, b


def base_hash(col: Column) -> Column:
    """28-bit md5-derived base hash of a string column (engine-portable)."""
    return md5_bigint(col, hex_digits=BASE_HASH_HEX_DIGITS)


def minhash_signature(hash_col: Column, num_hashes: int = 32) -> Column:
    """MinHash signature over a column of pre-computed base hashes
    (``array<bigint>``): one md5 per shingle total, then ``num_hashes``
    cheap affine derivations.  O(|shingles| * num_hashes) integer ops
    inside codegen; no shuffle, no UDF."""
    def _affine(a: int, b: int):
        # closure (not default args): pyspark counts lambda defaults as
        # higher-order-function parameters
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)

    sigs = []
    for i in range(num_hashes):
        a, b = minhash_params(i)
        sigs.append(F.array_min(F.transform(hash_col, _affine(a, b))))
    return F.array(*sigs)


def hash_bucket(col: Column | str, salt: str) -> Column:
    """Deterministic bucket in [0, 100): md5-hash of ``salt|key``.
    THE parity-critical construction behind split assignment and
    stratified sampling — change it here and in ``hash_bucket_sql``
    together, never in one place."""
    c = F.col(col) if isinstance(col, str) else col
    return md5_bigint(F.concat(F.lit(f"{salt}|"), c.cast("string"))) % 100


def hash_bucket_sql(expr: str, salt: str) -> str:
    """DuckDB twin of ``hash_bucket`` (for oracle generators)."""
    return (
        f"(CAST(('0x'||substr(md5('{salt}|' || CAST({expr} AS VARCHAR)),1,"
        f"{MD5_HEX_DIGITS})) AS BIGINT) % 100)"
    )
