"""Deterministic sampling for training-data mixing.

``mixture_sample`` downsamples each group toward a target mixture —
the data-mixing step of an LLM corpus pipeline ("50% web, 20% code,
…").  Two properties matter at 100 TB:

- **Deterministic membership.**  Keep/drop is a pure function of the
  row id (md5 hash fraction), never ``rand()``: re-runs, task retries,
  and different partitionings all select the same rows, and the DuckDB
  oracle can replay the exact choice.
- **No data shuffle.**  The keep-rates come from a group-count
  aggregate (rows = number of groups, broadcast back); the sampling
  itself is a scan-side filter, so sampled-out rows die at the
  projection without ever being shuffled.

The mixture is the largest corpus achievable without upsampling:
``scale = min_g(count_g / share_g)`` is the total size at which the
scarcest group exactly meets its target share; every group keeps
``share_g * scale`` rows (rate ≤ 1 by construction, clamped for float
safety).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_pandas_etl_spark.functions.hashing import md5_bigint

_HASH_SPACE = float(1 << 60)  # md5_bigint is a 60-bit hash


def hash_fraction(col: F.Column, salt: str) -> F.Column:
    """Uniform-ish [0, 1) fraction from a deterministic 60-bit md5 hash
    of ``salt || ':' || col`` — DuckDB twin:
    ``('0x'||substr(md5('salt:'||CAST(col AS VARCHAR)),1,15))::BIGINT
    / 1152921504606846976.0``."""
    tagged = F.concat(F.lit(f"{salt}:"), col.cast("string"))
    return md5_bigint(tagged) / F.lit(_HASH_SPACE)


def mixture_sample(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    id_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Downsample ``df`` so group proportions match ``target_shares``
    (groups absent from the dict are dropped), keeping the largest
    corpus the targets allow without upsampling.  Returns the sampled
    rows with all original columns."""
    spark = df.sparkSession
    shares = spark.createDataFrame(
        [(k, float(v)) for k, v in target_shares.items()],
        f"{group_col} string, _share double",
    )
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    sized = counts.join(shares, group_col)  # inner: untargeted groups drop
    scale = sized.agg(F.min(F.col("_n") / F.col("_share")).alias("_scale"))
    rates = (
        sized.crossJoin(F.broadcast(scale))
        .select(
            group_col,
            F.least(
                F.lit(1.0), F.col("_share") * F.col("_scale") / F.col("_n")
            ).alias("_rate"),
        )
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(hash_fraction(F.col(id_col), salt) < F.col("_rate"))
        .drop("_rate")
    )


def neyman_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    total_target: int,
    id_col: str,
) -> DataFrame:
    """Optimal-allocation stratified sampling (Neyman): stratum sample
    sizes ∝ n_h·σ_h, so strata whose measured variable varies more get
    proportionally more of the budget — the minimum-variance estimator
    allocation for a fixed total sample, vs plain proportional
    stratification (operators with constant per-stratum rates).

    Determinism contract: σ_h comes from exact BIGINT moments through
    one shared IEEE expression; weights round to 6 digits and
    DECIMAL-sum into the normalizer; allocations floor (no rounding-tie
    rule); membership is the usual md5-fraction — retry-, partitioning-
    and engine-invariant, replayable by the oracle.

    Degenerate strata: when EVERY stratum has zero variance the Neyman
    normalizer W is 0 and the optimal rule is undefined — the sampler
    falls back to proportional allocation (floor(T·n_h/N)) instead of
    silently returning zero rows.  Flooring systematically
    under-allocates: the realized total is total_target minus up to
    |strata| rows (fractional remainders are dropped, never
    redistributed) — callers needing an exact total should bump
    total_target by |strata| and trim.

    Scale shape: one moment aggregate (|strata| rows), rates broadcast
    back, scan-side filter — sampled-out rows never shuffle (the
    mixture_sample posture).  Returns sampled rows with their
    stratum's planned allocation in ``_alloc``."""
    st = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.col(value_col).cast("long")).cast("bigint").alias("_s"),
        F.sum(F.col(value_col).cast("long") * F.col(value_col).cast("long"))
        .cast("bigint")
        .alias("_ss"),
    )
    nd = F.col("_n").cast("double")
    var = (
        F.col("_ss").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double") / nd
    ) / nd
    wdf = st.select(
        group_col, "_n", F.round(nd * F.sqrt(var), 6).alias("_wh")
    )
    tot = wdf.agg(
        F.sum(F.col("_wh").cast("decimal(18,6)")).cast("double").alias("_W"),
        F.sum("_n").cast("double").alias("_ntot"),
    )
    share = F.when(
        F.col("_W") > 0, F.col("_wh") / F.col("_W")
    ).otherwise(F.col("_n").cast("double") / F.col("_ntot"))
    al = (
        wdf.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "_n",
            F.floor(F.lit(float(total_target)) * share)
            .cast("bigint")
            .alias("_alloc"),
        )
    )
    rates = al.select(
        group_col,
        "_alloc",
        F.least(
            F.lit(1.0), F.col("_alloc").cast("double") / F.col("_n").cast("double")
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(hash_fraction(F.col(id_col), "neyman") < F.col("_rate"))
        .drop("_rate")
    )


DSIR_BUCKETS = 8192


def dsir_log_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169) — the importance-weighting stage: score every
    document by how target-like its hashed n-gram profile is, so a
    100 TB raw crawl can be resampled toward a small high-quality
    target domain without training a model.

    Feature space: unigrams + bigrams of the normalized tokens, hashed
    into ``buckets`` counts (the paper's hashed n-gram parameterization
    — collisions are part of the estimator, not an approximation to
    apologize for).  Both bag-of-buckets multinomials are fit with
    Laplace smoothing; a document's log importance weight is
    ``sum_g [log p_target(bucket(g)) - log p_raw(bucket(g))]`` over its
    gram OCCURRENCES (counts, not distinct).

    Engine-portability: the per-bucket log-ratio is rounded to 6
    decimals and cast to DECIMAL(18,6) BEFORE the per-doc sum (the
    perplexity-family pattern), so the corpus-scale accumulation is
    exact decimal arithmetic — order-independent and bit-identical to
    the DuckDB oracle; the bucket hash is the md5-based 60-bit
    construction both engines share.

    Scale shape: two linear tokenize passes (fit, then score — the
    irreducible shape of every fit-and-apply operator here); the model
    is ONE aggregate of ``buckets`` rows broadcast back to the score
    pass (no corpus-scale shuffle on the join side); totals ride a
    1-row broadcast cross join, not a collect.  ``target_col`` is a
    boolean column — the target set lives IN the pool (the DSIR paper's
    setting has a separate target corpus; a boolean column is the same
    math with q fit on the whole pool, and keeps the harness
    single-table).

    Returns one row per document: (id_col, n_grams, log_weight) —
    ``n_grams`` the occurrence count, ``log_weight`` 0.0 for empty
    docs (no evidence either way).
    """
    from aws_pandas_etl_spark.operators.text import tokens

    toks = tokens(text_col)
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = docs.select(
        F.col(id_col),
        F.col(target_col).alias("_tgt"),
        F.explode(F.concat(toks, bigrams)).alias("_g"),
    ).select(
        id_col,
        "_tgt",
        F.pmod(md5_bigint(F.col("_g")), F.lit(buckets)).alias("_bkt"),
    )
    # pin ONE evaluation of the tokenize+hash scan: the fit branch
    # (bucket counts) and the score branch (per-doc sums) both read
    # feats, and without the checkpoint each branch re-runs the full
    # normalize/split/md5 pass (measured 2x the query cost at sf0.1).
    # The materialization is (id, bool, int) per gram occurrence —
    # integers, not text — the same featurize-once table the DSIR
    # paper persists before fitting.
    feats = feats.localCheckpoint(eager=False)
    counts = feats.groupBy("_bkt").agg(
        F.count("*").alias("_n_all"),
        F.sum(F.col("_tgt").cast("bigint")).alias("_n_tgt"),
    )
    totals = counts.agg(
        F.sum("_n_all").alias("_t_all"), F.sum("_n_tgt").alias("_t_tgt")
    )
    b = F.lit(float(buckets))
    model = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "_bkt",
            F.round(
                F.log(
                    (F.col("_n_tgt") + 1.0)
                    / (F.col("_t_tgt").cast("double") + b)
                )
                - F.log(
                    (F.col("_n_all") + 1.0)
                    / (F.col("_t_all").cast("double") + b)
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("_lr"),
        )
    )
    scored = (
        feats.join(F.broadcast(model), "_bkt")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("_lr").alias("_w"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("_w").cast("double"), F.lit(0.0)).alias(
                "log_weight"
            ),
        )
    )
