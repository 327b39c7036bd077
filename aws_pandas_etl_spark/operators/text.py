"""Text-analysis operators for LLM training-data pipelines (SURVEY §2b X4).

All pure Column expressions — tokenization, language ID, quality
scoring, BPE-ish token counting, fingerprinting all run inside
whole-stage codegen with zero shuffles (per-document projections), so
they stream at scan speed over 100 TB.

Every constant here is shared with the DuckDB oracle SQL generators in
``plans/queries.py`` so both engines compute byte-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_pandas_etl_spark.functions.hashing import normalize_text

# Tiny deterministic stopword lists for the n-gram/stopword language
# heuristic.  (Real language ID would use fastText/CLD3 — not in this
# container; the heuristic is the deterministic, SQL-expressible core.)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr": ("le", "la", "de", "et", "un", "que", "pour", "dans"),
    "de": ("der", "die", "das", "und", "ein", "zu", "von", "mit"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1"),
}

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol.  Safe common subset of Java regex (Spark) and RE2 (DuckDB).
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

PUNCT_RE = "[^a-zA-Z0-9\\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (never empty-string
    tokens; empty text -> empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = normalize_text(F.coalesce(c, F.lit("")))
    return F.filter(F.split(norm, " "), lambda t: t != "")


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token count via regex pre-tokenization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.coalesce(c, F.lit("")), F.lit(BPE_TOKEN_RE), F.lit(0)))


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` bound once per row: a one-element
    ``transform`` whose lambda variable stands for ``value``.  Catalyst
    inlines a projected alias into every predicate pushed past it, and
    higher-order functions are neither codegen'd nor CSE'd, so an
    expression that names a tokenization several times re-tokenizes
    each time; a lambda variable is never inlined."""
    return F.transform(F.array(value), body)[0]


def _stopword_hits(toks: Column, lang: str) -> Column:
    """How many of the tokens ``toks`` are ``lang`` stopwords."""
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def predict_lang(col: Column | str) -> Column:
    """argmax of per-language stopword hit counts; ties broken by
    language code order; all-zero -> 'unk'.  Expressed as a CASE
    cascade so the oracle SQL is literally the same expression; the
    tokens and the score array are each bound once per row."""
    langs = sorted(LANG_STOPWORDS)  # deterministic tie order

    def argmax(scores: Column) -> Column:
        best = F.array_max(scores)
        expr = F.lit("unk")
        for i in reversed(range(len(langs))):
            expr = F.when(scores[i] == best, F.lit(langs[i])).otherwise(expr)
        return F.when(best == 0, F.lit("unk")).otherwise(expr)

    return _let(
        tokens(col),
        lambda toks: _let(
            F.array(*[_stopword_hits(toks, lang) for lang in langs]), argmax
        ),
    )


def lang_score_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize tokenization and the per-language stopword-hit
    scores as named columns ``_toks`` / ``_s_<lang>`` (the
    mixed-language detector's inputs; CollapseProject keeps
    multiply-referenced aliases)."""
    staged = df.withColumn("_toks", tokens(text_col))
    for lang in sorted(LANG_STOPWORDS):
        staged = staged.withColumn(f"_s_{lang}", _stopword_hits(F.col("_toks"), lang))
    return staged


def predict_lang_staged(
    df: DataFrame, text_col: str = "text", out_col: str = "predicted"
) -> DataFrame:
    """``df`` with ``predict_lang(text_col)`` as ``out_col``."""
    return df.withColumn(out_col, predict_lang(text_col))


def text_stats(df: DataFrame) -> DataFrame:
    """Per-document stats projection of the ``text`` column: char/token
    counts, alpha and punctuation ratios, distinct-token ratio."""
    c = F.coalesce(F.col("text"), F.lit(""))
    toks = tokens("text")
    n_tok = F.size(toks)
    n_char = F.length(c)
    n_alpha = F.length(F.regexp_replace(c, "[^a-zA-Z]", ""))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, PUNCT_RE, ""))
    return df.withColumns(
        {
            "n_chars_calc": n_char.cast("bigint"),
            "n_tokens": n_tok.cast("bigint"),
            "n_distinct_tokens": F.size(F.array_distinct(toks)).cast("bigint"),
            "alpha_ratio": n_alpha.cast("double") / F.greatest(n_char, F.lit(1)),
            "punct_ratio": n_punct.cast("double") / F.greatest(n_char, F.lit(1)),
        }
    )


def quality_score(col: Column | str) -> Column:
    """Deterministic quality heuristic in [0,1]:
    0.4 * min(1, tokens/50) + 0.3 * distinct_ratio + 0.3 * alpha_ratio.
    Fixed IEEE op order so Spark and the oracle agree bitwise; the
    tokens are bound once per row."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))

    def token_terms(toks: Column) -> Column:
        n_tok = F.size(toks)
        distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
            n_tok, F.lit(1)
        )
        cap = F.least(F.lit(1.0), n_tok.cast("double") / F.lit(50.0))
        return F.lit(0.4) * cap + F.lit(0.3) * distinct_ratio

    alpha_ratio = F.length(F.regexp_replace(c, "[^a-zA-Z]", "")).cast("double") / F.greatest(
        F.length(c), F.lit(1)
    )
    return _let(tokens(c), token_terms) + F.lit(0.3) * alpha_ratio


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (whole-doc
    content hash, robust to case/punct/whitespace)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(normalize_text(F.coalesce(c, F.lit(""))))


def chunk_documents(df: DataFrame, chunk_tokens: int = 64, stride: int = 48) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    token chunks (``chunk_tokens`` wide, ``stride`` apart) — the
    standard pretraining-data windowing step.  1->N explode of a pure
    Column computation: chunk i covers tokens [i*stride, i*stride +
    chunk_tokens); windows stop once the previous one reaches the end
    (1 + ceil(max(n - chunk, 0)/stride)), so no chunk is fully
    contained in its predecessor — no duplicated tail data.  At
    scale output rows ≈ rows * n_tokens/stride — predictable
    amplification, no shuffle until the caller aggregates."""
    # Bind tokens to a column first: embedding the tokenize tree inside
    # the transform lambda would re-run it per chunk (HOF lambdas are
    # interpreted with no subexpression caching).
    base = df.select("doc_id", tokens("text").alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    # integer ceil((n-chunk)+ / stride): last window index
    last = F.floor(
        (F.greatest(n - F.lit(chunk_tokens), F.lit(0)) + F.lit(stride - 1))
        / F.lit(stride)
    ).cast("int")
    idx = F.when(n >= 1, F.sequence(F.lit(0), last)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.array_join(
                F.slice(toks, i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).alias("n_chunk_tokens"),
        ),
    )
    return (
        base.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").cast("int").alias("chunk_id"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
        )
    )


# PII patterns — safe common subset of Java regex (Spark) and RE2
# (DuckDB); shared with the oracle SQL generators.
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


def redact_pii(col: Column | str) -> Column:
    """Scrub emails then phone numbers from a text column — the
    standard pre-training PII pass.  Two chained regexp_replace calls,
    whole-stage codegen, zero shuffles."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    emails_gone = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(emails_gone, PHONE_RE, "<PHONE>")


def pii_match_count(col: Column | str, pattern: str) -> Column:
    """How many substrings match ``pattern`` (redaction audit metric)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def repeated_2gram_fraction(col: Column | str) -> Column:
    """Gopher-style repetition signal: fraction of word-2-gram
    occurrences that are repeats of an earlier 2-gram in the same
    document, ``(total - distinct) / total``.  Pure Column expression
    (no shuffle); highly repetitive machine-generated text scores near
    1, natural text near 0."""
    toks = tokens(col)
    k = F.size(toks) - F.lit(1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, 2), " "))
    total = F.greatest(k, F.lit(0))
    distinct = F.size(F.array_distinct(grams))
    return (total - distinct).cast("double") / F.greatest(total, F.lit(1))


def assign_split(id_col: Column | str) -> Column:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    document key — stable across runs, machines, and engine versions
    (unlike ``rand()``-based splits), and uniformly distributed
    regardless of key clustering.  Bucket = md5-hash(id) mod 100."""
    from aws_pandas_etl_spark.functions.hashing import hash_bucket

    bucket = hash_bucket(id_col, "split")
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    budget: int = 512,
) -> DataFrame:
    """Assign documents to fixed-token-budget training packs:
    documents are laid out in ``id_col`` order and pack_id =
    floor(prefix_tokens / budget) — contiguous packing where a document
    starts in the pack its first token falls into.  Deterministic and
    order-stable (no bin-packing heuristics that depend on visit
    order).

    Scale posture: the corpus-wide prefix sum runs through
    ``ranking.global_prefix_sums`` — ``repartitionByRange(doc_id)``,
    partition-local prefix sums, broadcast per-partition offsets — so
    the plan contains a range exchange plus ``num_partitions``-way
    windows, never a single-partition global sort.  ``id_col`` must be
    unique (it is the ordering key)."""
    from aws_pandas_etl_spark.operators.ranking import global_prefix_sums

    ntok = F.size(tokens("text"))
    base = df.select(F.col(id_col).alias("doc_id"), ntok.alias("n_tokens"))
    packed = global_prefix_sums(base, ["doc_id"], ["n_tokens"], ["start_tok"])
    return packed.withColumn(
        "pack_id", F.expr(f"CAST(start_tok DIV {budget} AS BIGINT)")
    )


def lang_id_table(df: DataFrame) -> DataFrame:
    """doc_id -> (lang, pred_lang) via Arrow-batched mapInPandas.

    Same stopword-argmax semantics as ``predict_lang`` (Column twin):
    scores from LANG_STOPWORDS hits over pytext tokens, argmax with
    language-code tie order, all-zero -> 'unk'.  Python path: one set
    lookup per token instead of the Column version's 5 interpreted
    list filters."""
    import pandas as pd
    from pyspark.sql import types as T

    from aws_pandas_etl_spark.functions import pytext

    stopsets = {lang: set(ws) for lang, ws in LANG_STOPWORDS.items()}
    langs = sorted(LANG_STOPWORDS)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("pred_lang", T.StringType()),
        ]
    )

    def _predict(batches):
        for pdf in batches:
            preds = []
            for t in pdf["text"]:
                toks = pytext.tokens(t)
                scores = {
                    lang: sum(1 for tk in toks if tk in stopsets[lang])
                    for lang in langs
                }
                best = max(scores.values())
                if best == 0:
                    preds.append("unk")
                else:
                    preds.append(next(l for l in langs if scores[l] == best))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "lang": pdf["lang"],
                    "pred_lang": preds,
                }
            )

    return df.select("doc_id", "lang", "text").mapInPandas(_predict, schema=out_schema)


def fingerprint_features(df: DataFrame, n: int = 8) -> DataFrame:
    """Per-doc fingerprints via Arrow-batched mapInPandas: whole-doc
    content md5 (byte-identical to ``fingerprint`` above) + the minimal
    60-bit md5 over word ``n``-gram shingles, both on the shared
    normalize/md5 math of functions/pytext.py.  Arrow batches, because
    a Column form of the min-gram hash interprets its higher-order
    lambdas per element (~10x slower)."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    from aws_pandas_etl_spark.functions import pytext

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("fp_md5", T.StringType()),
            T.StructField("min_gram_hash", T.LongType()),
        ]
    )

    def _extract(batches):
        for pdf in batches:
            fps, mins = [], []
            for t in pdf["text"]:
                norm = pytext.normalized(t)
                fps.append(hashlib.md5(norm.encode("utf-8")).hexdigest())
                grams = pytext.shingles(pytext.tokens(t), n)
                mins.append(
                    min((pytext.md5_int(g, 15) for g in grams), default=-1)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "fp_md5": fps,
                    "min_gram_hash": mins,
                }
            )

    return df.select("doc_id", "text").mapInPandas(_extract, schema=out_schema)


def misra_gries_candidates(
    df: DataFrame, token_col: str = "token", counters: int = 400
) -> DataFrame:
    """The distinct tokens surviving ``misra_gries_sketch`` (counts are
    lower bounds and deliberately discarded — callers rescore exactly).

    Guarantee (the reason this is safe as a candidate generator): MG
    with m counters undercounts by at most n_p/(m+1) per partition, so
    any token whose GLOBAL count exceeds N/(m+1) must survive in at
    least one partition — the candidate set is a superset of every
    token above that support, under ANY partitioning of the input.
    Only |partitions| * m candidate rows shuffle (bounded by design,
    independent of corpus size)."""
    return misra_gries_sketch(df, token_col, counters).select(token_col).distinct()


def misra_gries_sketch(
    df: DataFrame, token_col: str = "token", counters: int = 400
) -> DataFrame:
    """Count-preserving per-partition Misra-Gries sketch: (token, cnt)
    rows where cnt is the surviving LOWER BOUND — the mergeable form
    (Agarwal et al., PODS'12) a hierarchical combine needs.  The corpus
    streams once through Arrow batches with O(m) state per partition:
    each batch's exact value_counts fold into the summary by
    ``mg_combine``, the same step the streaming runner folds per-batch
    sketches with."""
    import pandas as pd

    def _sketch(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            counts = mg_combine(
                counts, pdf[token_col].value_counts().items(), counters
            )
        yield pd.DataFrame(
            {token_col: list(counts.keys()), "cnt": list(counts.values())}
        )

    return df.select(token_col).mapInPandas(
        _sketch, schema=f"{token_col} string, cnt bigint"
    )


def mg_combine(store: dict, sketch_rows, counters: int) -> dict:
    """The mergeable-summaries combine: fold (token, cnt) rows into
    ``store``, then one decrement step — subtract the (counters+1)-th
    largest count from all and drop the non-positive — caps it at
    ``counters`` entries.  Total undercount stays <= N/(counters+1)
    under any merge tree, so the store remains a superset of every
    phi-heavy token with counters + 1 >= 1/phi."""
    for tok, c in sketch_rows:
        store[tok] = store.get(tok, 0) + int(c)
    if len(store) > counters:
        cut = sorted(store.values(), reverse=True)[counters]
        store = {t: c - cut for t, c in store.items() if c > cut}
    return store


def heavy_hitters_exact(
    df: DataFrame, token_col: str = "token", phi: float = 0.005, counters: int = 400
) -> DataFrame:
    """Tokens with frequency >= ceil(phi * N): MG candidates (superset,
    needs counters >= 1/phi), then ONE exact filtered recount — the
    sketch turns a full-vocabulary shuffle into a bounded-candidate
    semi-join plus a shuffle of only the candidates' partial counts."""
    if counters + 1 < 1.0 / phi:
        raise ValueError(
            f"counters={counters} cannot guarantee support phi={phi}: "
            "need counters + 1 >= 1/phi for the MG superset property"
        )
    cand = misra_gries_candidates(df, token_col, counters)
    total = df.agg(F.count("*").cast("bigint").alias("total"))
    return (
        df.join(F.broadcast(cand), token_col, "left_semi")
        .groupBy(token_col)
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.lit(phi) * F.col("total")))
        .select(token_col, "cnt")
    )


def bpe_top_merges(df: DataFrame, iters: int = 3) -> DataFrame:
    """Wrapper over :func:`_bpe_train` returning only the merge rows —
    see that function for the algorithm and determinism notes."""
    results, _ = _bpe_train(df, iters=iters)
    return df.sparkSession.createDataFrame(
        results, "iteration int, pair string, cnt bigint"
    )


def bpe_vocab_stats(df: DataFrame) -> DataFrame:
    """Tokenizer APPLY readout: corpus token counts before (characters)
    and after the 3 learned merges, with the compression ratio
    — one aggregate over the training loop's own final vocabulary
    state, so apply costs nothing beyond training (at deployment the
    (word -> symbols) table joins any corpus as a broadcast
    vocabulary).  Returns 1 row: (n_words, tokens_pre, tokens_post,
    compression)."""
    _, cur = _bpe_train(df)
    return bpe_vocab_stats_from_state(cur)


def bpe_vocab_stats_from_state(cur: DataFrame) -> DataFrame:
    """The bpe_vocab_stats aggregate over an already-trained
    (word, freq, sym) vocabulary state — lets a materialized training
    artifact serve the apply readout without re-running the loop."""
    return cur.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.col("freq") * F.length("word")).cast("bigint").alias("tokens_pre"),
        F.sum(F.col("freq") * F.size("sym")).cast("bigint").alias("tokens_post"),
        F.round(
            F.sum(F.col("freq") * F.size("sym")).cast("double")
            / F.sum(F.col("freq") * F.length("word")).cast("double"),
            6,
        ).alias("compression"),
    )


def _bpe_train(
    df: DataFrame, text_col: str = "text", iters: int = 3
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Tokenizer training, the BPE merge loop itself: ``iters`` rounds
    of (count adjacent symbol pairs weighted by word frequency ->
    merge the most frequent pair everywhere, greedy left-to-right).
    Returns (merge rows [(iteration, pair, cnt)], final vocabulary
    DataFrame (word, freq, sym)).

    The merge step is fully relational: posexplode the symbol arrays,
    mark matches with lead(), split them into islands of CONSECUTIVE
    matches (gaps-and-islands: i - row_number), and merge the
    odd-ranked match in each island — exactly greedy non-overlapping
    left-to-right application ("aaaa" with pair (a,a) -> [aa, aa]).
    Rows consumed by a merge drop via lag(); arrays reassemble with an
    order-pinned collect_list.  Ties on pair count break to the
    lexicographically smallest pair.

    Scale shape: state is the (word, freq, symbols) table — VOCABULARY
    sized, not corpus sized (the corpus is read once for word
    frequencies); each round is one explode + two window passes over
    word partitions + one group-back, lineage cut per round.  The
    per-round driver action moves ONE row (the argmax pair) — the
    k-means centroid precedent."""
    from pyspark.sql import Window

    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    cur = words.select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("sym"),
    ).localCheckpoint()

    results: list[tuple[int, str, int]] = []
    for it in range(1, iters + 1):
        pairs = cur.select(
            "freq",
            F.explode(
                F.expr(
                    # sequence(1, 0) infers a DESCENDING range — guard
                    # single-symbol words to an empty pair list
                    "transform(if(size(sym) >= 2, sequence(1, size(sym) - 1), "
                    "array()), "
                    "i -> concat(element_at(sym, i), ' ', element_at(sym, i + 1)))"
                )
            ).alias("pair"),
        )
        top_rows = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top_rows:
            # no adjacent symbol pairs left (single-character words or
            # the vocabulary merged dry) — return the merges found so far
            break
        top = top_rows[0]
        pa, pb = top["pair"].split(" ")
        results.append((it, top["pair"], top["cnt"]))

        w_ord = Window.partitionBy("word").orderBy("i")
        r = (
            cur.select("word", "freq", F.posexplode("sym").alias("i", "s"))
            .withColumn("nxt", F.lead("s").over(w_ord))
            .withColumn(
                "m",
                (F.col("s") == F.lit(pa))
                & (F.col("nxt") == F.lit(pb))
                & F.col("nxt").isNotNull(),
            )
        )
        w_m = Window.partitionBy("word", "m").orderBy("i")
        r = r.withColumn(
            "grp", F.when(F.col("m"), F.col("i") - F.row_number().over(w_m))
        )
        w_g = Window.partitionBy("word", "grp").orderBy("i")
        r = r.withColumn(
            "do_merge",
            F.col("m") & (F.row_number().over(w_g) % 2 == 1),
        ).withColumn("dropped", F.lag("do_merge", 1, False).over(w_ord))
        out = r.filter(~F.col("dropped")).withColumn(
            "o",
            F.when(F.col("do_merge"), F.lit(pa + pb)).otherwise(F.col("s")),
        )
        cur = (
            out.groupBy("word", "freq")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "o"))),
                    lambda x: x["o"],
                ).alias("sym")
            )
            .localCheckpoint()
        )

    return results, cur


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask: int = 16,
) -> DataFrame:
    """Content-defined chunking (Muthitacharoen et al. 2001, LBFS):
    split each document's token stream at positions where the token's
    hash hits 0 mod ``mask`` (expected chunk length = ``mask`` tokens),
    so chunk boundaries depend on CONTENT, not position — inserting or
    deleting tokens near the head re-synchronizes within one chunk and
    leaves every later chunk fingerprint unchanged (the property
    ``tests/test_approx.py::test_cdc_chunks_shift_invariant`` pins).

    Returns (id, chunk_id, fp) — one md5 fingerprint per chunk.

    Scale shape: tokenize + boundary hash are stateless projections;
    the running boundary count is a window PARTITIONED BY document
    (never global), and fingerprints reduce by (doc, chunk) with
    map-side combine.
    """
    from aws_pandas_etl_spark.functions.hashing import md5_bigint
    from pyspark.sql import Window

    pos = df.select(
        id_col,
        F.posexplode(tokens(text_col)).alias("pos0", "tok"),
    ).select(id_col, "tok", (F.col("pos0") + 1).alias("pos"))
    boundary = F.when(
        (F.col("pos") == 1)
        | (md5_bigint(F.concat(F.lit("cdc:"), F.col("tok"))) % mask == 0),
        1,
    ).otherwise(0)
    wdoc = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = pos.withColumn("chunk_id", F.sum(boundary).over(wdoc))
    return chunked.groupBy(id_col, "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x.tok,
                ),
            )
        ).alias("fp")
    )
