"""Similarity search over embedding columns (SURVEY §2b X3/X5/X6).

Baseline is brute-force cosine top-k (exact; one pass, TakeOrdered —
no full sort).  The scale path is random-hyperplane LSH: bucket
vectors by sign-bit sketches, search only the query's bucket(s).

Hyperplanes are DETERMINISTIC pseudo-random values derived from md5 of
(plane, dim) — no RNG, so results are reproducible across engines and
the DuckDB oracle can inline the very same plane constants.

All dot products use ``F.zip_with`` + ``F.aggregate`` over
``array<float>`` cast to double — JVM-side, no UDFs.  For very hot
paths a pandas_udf over Arrow batches with numpy matmul is the faster
alternative; kept out here because the built-ins already vectorize
adequately and stay inside codegen.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_pandas_etl_spark.functions.literals import lit_array

# The embeddings table's columns and the cosine rounding every
# similarity and clustering operator reports.
ID_COL = "vec_id"
VEC_COL = "embedding"
ROUND_DIGITS = 6


def hyperplane(plane: int, dims: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^dims.

    Component d = (md5_int("{plane}:{d}") % 2001 - 1000) / 1000 —
    reproducible anywhere md5 exists (same formula inlined into the
    DuckDB oracle SQL)."""
    out = []
    for d in range(dims):
        h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:15], 16)
        out.append(((h % 2001) - 1000) / 1000.0)
    return out


def dot(a: Column, b: Column) -> Column:
    """Exact dot product of two array columns (double accumulation in
    array order — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) — fixed expression
    shape shared with the oracle."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def topk_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """X3 baseline — exact cosine top-k against a literal query vector.

    Plan shape: one projection computing the similarity + global
    TakeOrderedAndProject(k) — no shuffle of the data, only k rows to
    the driver side of the sort.  Scales linearly with a 100 TB scan.
    """
    q = lit_array(query_vec)
    sim = F.round(cosine(F.col(VEC_COL), q), ROUND_DIGITS)
    return (
        embeddings.select(F.col(ID_COL), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(ID_COL))
        .limit(k)
    )


def lsh_sketch(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit sketch: bit p set iff dot(vec, plane_p) >= 0."""
    bits = [
        F.when(dot(vec_col, lit_array(p)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    out = F.lit(0)
    for b in bits:
        out = out.bitwiseOR(b)
    return out


def topk_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    hamming_probe: int = 0,
) -> DataFrame:
    """X3 scale path — ANN top-k searching the query's LSH bucket plus,
    with ``hamming_probe`` = m > 0, every bucket whose sketch is within
    Hamming distance m (multi-probe: sum(C(planes, i), i<=m) buckets,
    the standard recall knob — a near neighbor on the far side of one
    hyperplane lands one bit away).

    At scale the sketch is precomputed and the table bucketed/
    partitioned by it, so the probe is an IN-list of bucket keys
    touching ``probed/2^planes`` of the data, with exact cosine only
    *within* the probed buckets.
    """
    dims = len(query_vec)
    planes = [hyperplane(p, dims) for p in range(num_planes)]
    qsketch = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query_vec)) >= 0:
            qsketch |= 1 << i
    q = lit_array(query_vec)
    sim = F.round(cosine(F.col(VEC_COL), q), ROUND_DIGITS)
    sketch = lsh_sketch(F.col(VEC_COL), planes)
    if hamming_probe <= 0:
        bucket_pred = sketch == F.lit(qsketch)
    else:
        # enumerate the probed bucket keys driver-side by XOR-ing the
        # query sketch with every <=m-subset of bit positions —
        # O(sum C(num_planes, i)), NOT a scan of all 2^num_planes
        # values (which would hang the driver at num_planes >= ~24
        # even though only a handful of buckets qualify).  At scale
        # this list is the partition-pruning IN-list, not a per-row
        # bit_count over the full table.
        import itertools

        probed = [qsketch]
        for m in range(1, min(hamming_probe, num_planes) + 1):
            for bits in itertools.combinations(range(num_planes), m):
                flipped = qsketch
                for b in bits:
                    flipped ^= 1 << b
                probed.append(flipped)
        bucket_pred = sketch.isin(probed)
    return (
        embeddings.filter(bucket_pred)
        .select(F.col(ID_COL), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(ID_COL))
        .limit(k)
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, fixed evaluation order (oracle twin)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def topk_ivf(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 2,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """X3 scale path (IVF flavor): assign the table to k-means cells,
    search only the query's ``nprobe`` nearest cells with exact cosine.

    ``cents`` pins an externally fitted (artifact-cached) clustering —
    the fit-once/assign-many contract every IVF-family query shares;
    None trains here with two rounds of the same deterministic Lloyd's
    the clustering operators use (id-ordered init, exact-decimal updates —
    see operators/clustering.py for the determinism contract).  Probe
    cells are the query's ``nprobe`` nearest (``nearest_cells``, on the
    driver) and every vector's cell is ``nearest_centroid``: one
    nearest-centroid rule, so the probed set is deterministic and
    cross-engine reproducible.

    At 100 TB: assignment is precomputed and the table partitioned by
    cell, so a query scans nprobe/num_centroids of the data; here the
    argmin is a numpy fold over Arrow batches (a scalar pandas UDF) —
    no join, no shuffle before the final top-k."""
    # Lazy import: clustering imports l2sq/dot from this module.
    from aws_pandas_etl_spark.operators.clustering import (
        kmeans_fit,
        nearest_cells,
        nearest_centroid,
    )

    if cents is None:
        cents = kmeans_fit(embeddings, k=num_centroids)
    probe = nearest_cells(query_vec, cents, nprobe)
    qlit = lit_array(query_vec)
    sim = F.round(cosine(F.col(VEC_COL), qlit), ROUND_DIGITS)
    return (
        embeddings.withColumn("cluster", nearest_centroid(VEC_COL, cents))
        .filter(F.col("cluster").isin(probe))
        .select(F.col(ID_COL), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(ID_COL))
        .limit(k)
    )


def similarity_self_join(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    dims: int | None = None,
) -> DataFrame:
    """X6 — all pairs with cosine >= threshold, LSH-blocked.

    Equi-join on the sketch replaces the O(n²) cross join; within a
    bucket pairs are re-scored exactly.  Recall is bounded by LSH
    (pairs in different buckets are missed — by design; multi-probe or
    band-OR amplification raises recall).  Embedding-cosine near-dup
    dedup (X2e) is this with a high threshold.

    ``dims`` (the embedding dimensionality) should be passed by callers
    that know it: inferring it requires scanning one row, which is a
    Spark job at plan-construction time and breaks lazy composition.
    """
    if dims is None:
        # Explicit fallback probe — one-row scan, documented cost.
        first = embeddings.select(VEC_COL).first()
        if first is None or first[0] is None:
            raise ValueError(
                "similarity_self_join: cannot infer dims from an empty "
                f"table or NULL first {VEC_COL!r}; pass dims= explicitly"
            )
        dims = len(first[0])
    planes = [hyperplane(p, dims) for p in range(num_planes)]
    # Sketch + norm computed once per vector, materialized via lazy
    # localCheckpoint (blocks auto-freed on GC — no CacheManager entry
    # leaking across invocations): the pair stage then does ONE dot per
    # candidate pair instead of three (dot(a,b), dot(a,a), dot(b,b)).
    # Same FP values — norms are the same sqrt(dot(v,v)) expression,
    # just not recomputed per pair.
    sk = embeddings.select(
        F.col(ID_COL).alias("id"),
        F.col(VEC_COL).alias("v"),
        lsh_sketch(F.col(VEC_COL), planes).alias("sketch"),
        F.sqrt(dot(F.col(VEC_COL), F.col(VEC_COL))).alias("norm"),
    ).localCheckpoint(eager=False)  # lazy: no job at plan-construction time
    a = sk.select(F.col("id").alias("a"), F.col("v").alias("va"), "sketch",
                  F.col("norm").alias("norm_a"))
    b = sk.select(F.col("id").alias("b"), F.col("v").alias("vb"), "sketch",
                  F.col("norm").alias("norm_b"))
    sim = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b")),
        ROUND_DIGITS,
    )
    return (
        a.join(b, "sketch")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def jl_project(
    embeddings: DataFrame,
    out_dims: int = 16,
    dims: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: out_dims deterministic
    md5-derived hyperplanes (the LSH plane family, offset so the two
    operators use independent planes), one dot product each — a pure
    projection (zero shuffles, scan-speed at any scale), the standard
    preprocessing step that shrinks ANN/dedup distance math by
    dims/out_dims while approximately preserving relative distances
    (JL lemma; preservation measured in tests).

    Output is long-form (id, dim, value): engine-portable exact
    comparison needs scalar cells, and downstream re-assembly is a
    collect_list away.  Values are unscaled dot products — relative
    distances are what ANN ranking consumes; apply 1/sqrt(out_dims)
    for calibrated absolute distances."""
    ndims = dims or len(embeddings.select(VEC_COL).first()[0])
    planes = [hyperplane(1000 + p, ndims) for p in range(out_dims)]
    projected = F.array(
        *[
            F.round(dot(F.col(VEC_COL), lit_array(pl)), ROUND_DIGITS)
            for pl in planes
        ]
    )
    return embeddings.select(
        ID_COL, F.posexplode(projected).alias("dim", "value")
    ).select(ID_COL, F.col("dim").cast("int").alias("dim"), "value")
