"""Property-based pinning of the cross-engine twin invariant:
functions/pytext.py (Python, used in pandas stages and as the
reference here) must compute the same tokens/shingles/hashes as the
Column expressions in functions/hashing.py (JVM) and the DuckDB SQL
fragments the oracles are generated from — for arbitrary text, not
just the fixtures.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_pandas_etl_spark.functions import pytext
from aws_pandas_etl_spark.functions.hashing import (
    MINHASH_PRIME,
    base_hash,
    md5_bigint,
    minhash_params,
    shingles as shingles_col,
)

text_strategy = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=200,
)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_tokens_python_vs_duckdb(duck_probe, text):
    got = duck_probe(
        "SELECT list_filter(string_split(trim(lower(regexp_replace(coalesce(?, ''),"
        " '[^a-zA-Z0-9]+', ' ', 'g'))), ' '), t -> t != '')",
        text,
    )
    assert got == pytext.tokens(text)


unicode_strategy = st.text(max_size=120)  # full unicode, incl. İ/ß/ﬀ


@given(unicode_strategy)
@settings(max_examples=200, deadline=None)
def test_tokens_python_vs_duckdb_unicode(duck_probe, text):
    """Strip-before-lower makes the canonical form engine-proof for
    ANY input: unicode lowercasing differs between engines (Turkish
    dotted I, sharp s, ligatures), but non-ASCII is stripped before
    lower() ever sees it."""
    got = duck_probe(
        "SELECT list_filter(string_split(trim(lower(regexp_replace(coalesce(?, ''),"
        " '[^a-zA-Z0-9]+', ' ', 'g'))), ' '), t -> t != '')",
        text,
    )
    assert got == pytext.tokens(text)


@given(text_strategy)
@settings(max_examples=100, deadline=None)
def test_md5_int_python_vs_duckdb(duck_probe, text):
    got = duck_probe("SELECT CAST(('0x'||substr(md5(?),1,7)) AS BIGINT)", text)
    assert got == pytext.md5_int(text, 7)


@given(st.lists(st.text(alphabet="abcdefg ", min_size=0, max_size=30), max_size=8))
@settings(max_examples=100, deadline=None)
def test_shingles_python_roundtrip(toks_raw):
    toks = [t for t in " ".join(toks_raw).split(" ") if t]
    sh = pytext.shingles(toks, 3)
    assert len(sh) == len(set(sh))  # distinct
    for g in sh:
        assert len(g.split(" ")) == 3


@pytest.fixture(scope="module")
def duck_probe():
    con = duckdb.connect()

    def probe(sql: str, *params):
        return con.execute(sql, params).fetchone()[0]

    yield probe
    con.close()


def test_tokens_python_vs_spark_on_fixtures(spark):
    """Exact Python==Spark token/shingle/hash agreement over real docs."""
    from aws_pandas_etl_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    jvm = docs.select(
        "doc_id",
        shingles_col("text", 3).alias("sh"),
        F.transform(shingles_col("text", 3), lambda s: base_hash(s)).alias("h"),
    ).collect()
    for r in docs.collect():
        sh_py = pytext.shingles(pytext.tokens(r["text"]), 3)
        h_py = [pytext.md5_int(g, 7) for g in sh_py]
        jr = next(x for x in jvm if x["doc_id"] == r["doc_id"])
        assert jr["sh"] == sh_py
        assert jr["h"] == h_py


# Texts the shingle table must treat like its Python twin: the edge
# cases ride along in every drawn batch.
_SHINGLE_EDGE_TEXTS = [None, "", "   ", "\t\n ", "!!!", "one", "one two", "a b a b a b a b a b"]
_words = st.lists(st.sampled_from(["a", "b", "Cc", "d9"]), max_size=12).map(" ".join)
shingle_batch_strategy = st.lists(
    st.one_of(
        text_strategy,
        unicode_strategy,
        _words,
        _words.map(lambda t: (t + " ") * 3),  # repeated grams
        st.text(alphabet=" \t\n\u00a0", max_size=5),  # whitespace only
    ),
    min_size=1,
    max_size=12,
)


@pytest.mark.parametrize("hex_digits", [7, 15])
@pytest.mark.parametrize("n", [1, 3, 8])
@given(texts=shingle_batch_strategy)
@settings(max_examples=15, deadline=None)
def test_shingle_hash_table_python_vs_spark(spark, n, hex_digits, texts):
    """The JVM shingle table equals its Python twin element for element
    and in order: distinct grams in first-occurrence order, and their
    distinct md5-prefix hashes in the same order."""
    from aws_pandas_etl_spark.operators.dedup import shingle_hash_table

    texts = _SHINGLE_EDGE_TEXTS + texts
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    got = {
        r["doc_id"]: (r["shingles"], r["hashes"])
        for r in shingle_hash_table(df, shingle_n=n, hex_digits=hex_digits).collect()
    }
    for i, t in enumerate(texts):
        sh = pytext.shingles(pytext.tokens(t), n)
        hs = list(dict.fromkeys(pytext.md5_int(g, hex_digits) for g in sh))
        assert got[i] == (sh, hs), (t, n, hex_digits)


def test_minhash_affine_python_vs_spark(spark):
    # contract: 28-bit base hashes (a*h stays < 2^56 — ANSI-safe)
    hashes = [123456789, 42, 2**28 - 1, 0]
    df = spark.createDataFrame([Row(h=hashes)])
    from aws_pandas_etl_spark.functions.hashing import minhash_signature

    sig = df.select(minhash_signature(F.col("h"), 8).alias("sig")).first()["sig"]
    for i in range(8):
        a, b = minhash_params(i)
        assert sig[i] == min((a * h + b) % MINHASH_PRIME for h in hashes)


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=30))
@settings(max_examples=20, deadline=None)
def test_assign_split_python_twin(spark, ids):
    """assign_split's md5-bucket must match a pure-Python recomputation
    for arbitrary keys (the determinism the 80/10/10 split rests on)."""
    import hashlib

    from aws_pandas_etl_spark.operators.text import assign_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["s"] for r in df.select("doc_id", assign_split("doc_id").alias("s")).collect()}
    for i in ids:
        b = int(hashlib.md5(f"split|{i}".encode()).hexdigest()[:15], 16) % 100
        want = "train" if b < 80 else ("val" if b < 90 else "test")
        assert got[i] == want


def test_cosine_column_vs_numpy_twin(spark):
    """The interpreted Column cosine (zip_with/aggregate HOFs) and a
    numpy recomputation must agree to the rounding digit used by every
    similarity query — the twin invariant extended to array math."""
    import numpy as np

    from aws_pandas_etl_spark.operators.similarity import cosine
    from aws_pandas_etl_spark.sources.readers import load_table

    full = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # select the query vector BEFORE limit: an unordered limit subset
    # is not guaranteed to contain vec_id 0
    q = full.filter(F.col("vec_id") == 0).first()["embedding"]
    emb = full.orderBy("vec_id").limit(50)
    rows = emb.select(
        "vec_id",
        "embedding",
        F.round(cosine(F.col("embedding"), F.array(*[F.lit(float(x)) for x in q])), 6).alias("sim"),
    ).collect()
    qv = np.array(q, dtype=np.float64)
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        want = float(v @ qv) / (float(np.sqrt(v @ v)) * float(np.sqrt(qv @ qv)))
        assert abs(r["sim"] - round(want, 6)) <= 1e-6, r["vec_id"]
