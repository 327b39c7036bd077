"""Cross-engine-deterministic distributed k-means (Lloyd's algorithm).

``pyspark.ml.clustering.KMeans`` is the production tool, but its
random init and double-accumulation order make results engine- and
partitioning-dependent — useless for an exact-parity oracle check, and
(more importantly) non-reproducible between runs of the same pipeline.
This variant pins every source of nondeterminism:

- **Init**: centroids are the ``k`` vectors with the smallest ids
  (k-means|| would sample; deterministic-by-id is the reproducible
  stand-in and costs one bounded ``limit(k)`` collect).
- **Distances**: one nearest-centroid rule for every k-means, IVF and
  PQ assignment.  ``_sq_dists`` folds each squared distance in
  dimension order in float64 (numpy, vectorized across a batch's
  rows) and ``_nearest`` takes the argmin with ties to the smaller
  centroid id; ``nearest_centroid`` (a Column), ``_topp_assign``
  (top-p rows) and ``nearest_cells`` (one vector on the driver) all
  call them.  A per-row function, so deterministic under any
  partitioning; the DuckDB oracle mirrors the in-order fold with
  ``list_sum(list_transform(list_zip(...)))`` and ``ORDER BY d2,
  cid``, bit-identical.  ``_dist_structs`` is the same rule as an
  interpreted Column (the reference the parity tests compare against).
- **Centroid update**: the proven decimal-mean pattern (cast each
  component to DECIMAL(18,6), exact order-independent SUM, cast to
  DOUBLE, divide by count) — the ONLY aggregation in the loop whose
  accumulation order could vary, hence the only place decimals are
  needed.

Scale shape: each Lloyd iteration ships k*dim doubles to the Python
workers in the UDF's closure (bounded by k, NOT by corpus size), one
narrow argmin projection over the vectors, and one shuffle of
|clusters| x dim partial sums for the update.  The per-iteration
driver collect moves k*dim values — plan-time metadata, not data.
Empty clusters drop out of the next round (mirrored by the SQL twin's
join-based update).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_pandas_etl_spark.functions.literals import lit_array
from aws_pandas_etl_spark.operators.similarity import (
    ID_COL,
    ROUND_DIGITS,
    VEC_COL,
    dot,
    l2sq,
)


def _dist_structs(vec_col: str, cents: list[tuple[int, list[float]]]) -> F.Column:
    """Array of (d2, cid) structs, one per centroid — struct ordering
    gives argmin-with-cid-tie-break via array_min, top-p via
    array_sort + slice."""
    return F.array(
        *[
            F.struct(
                l2sq(F.col(vec_col), lit_array(c)).alias("d2"),
                F.lit(cid).cast("int").alias("cid"),
            )
            for cid, c in cents
        ]
    )


def _ordered(cents: list[tuple[int, list[float]]]) -> list[tuple[int, list[float]]]:
    """Centroids as cid-ascending ``(int cid, float vector)`` pairs, the
    order ``_nearest``'s tie-break relies on."""
    if not cents:
        raise ValueError("nearest-centroid assignment requires at least one centroid")
    return sorted((int(cid), [float(x) for x in cv]) for cid, cv in cents)


def _sq_dists(m, ordered: list[tuple[int, list[float]]]):
    """(k, n) float64 squared distances from the n rows of ``m`` to the
    k centroids of ``ordered``.  Each distance accumulates ONE
    DIMENSION AT A TIME, ``acc = acc + (x_i - c_i)^2`` vectorized
    across the rows: the identical IEEE left fold the interpreted
    ``l2sq`` Column and the oracles' ``list_sum`` compute (never a
    BLAS reduction, whose blocked summation reorders the adds)."""
    out = np.empty((len(ordered), len(m)))
    for j, (_, cv) in enumerate(ordered):
        acc = np.zeros(len(m))
        for i, ci in enumerate(cv):
            d = m[:, i] - ci
            acc = acc + d * d
        out[j] = acc
    return out


def _nearest(m, ordered: list[tuple[int, list[float]]], p: int):
    """(min(p, k), n) int32 cids: row r holds each vector's (r+1)-th
    nearest centroid.  p rounds of ``argmin`` over the cid-ascending
    axis, each masking its pick with inf; argmin returns the FIRST
    minimum, so ties go to the smaller cid (the (d2, cid) struct order
    of ``_dist_structs`` and the oracles' ``ORDER BY d2, cid``)."""
    d = _sq_dists(m, ordered)
    cids = np.array([cid for cid, _ in ordered], dtype=np.int32)
    cols = np.arange(d.shape[1])
    out = np.empty((min(p, len(ordered)), d.shape[1]), dtype=np.int32)
    for r in range(len(out)):
        j = np.argmin(d, axis=0)
        out[r] = cids[j]
        d[j, cols] = np.inf
    return out


def _valid_rows(vecs, dim: int):
    """``(mask, m)``: which of ``vecs`` are non-null with ``dim``
    elements, and those rows as an (n_valid, dim) float64 matrix."""
    mask = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), dtype=bool, count=len(vecs)
    )
    m = np.array([v for v, ok in zip(vecs, mask) if ok], dtype=np.float64)
    return mask, m.reshape(-1, dim)


def nearest_cells(
    vec: list[float], cents: list[tuple[int, list[float]]], p: int
) -> list[int]:
    """The ``p`` nearest centroid ids of one vector, nearest first: the
    driver-side probe choice of the IVF queries, by the same rule as
    the distributed assignment."""
    m = np.asarray([vec], dtype=np.float64)
    return [int(c) for c in _nearest(m, _ordered(cents), p)[:, 0]]


def nearest_centroid(vec_col: str, cents: list[tuple[int, list[float]]]) -> F.Column:
    """int Column: argmin_c l2sq(vec, centroid_c), ties to the smaller
    cid.  A scalar pandas UDF over Arrow batches, so the other columns
    stay on the JVM; a null or ragged vector gets NULL (the Column
    fold's behavior).  The numpy fold measured 0.29 s for the sf0.1
    assignment pass against 1.85 s for the interpreted Column fold,
    whose per-element higher-order lambda was the whole cost.

    The UDF is marked nondeterministic although it is not: that keeps
    the optimizer from copying it into a filter pushed below its
    projection (a join's inferred ``IS NOT NULL``, a filter on the
    cell), which would run the fold twice per row.  The price: no
    filter moves below the assignment either, so callers filter their
    input before assigning it."""
    from pyspark.sql.functions import pandas_udf

    ordered = _ordered(cents)
    dim = len(ordered[0][1])

    @pandas_udf("int")
    def _cell(vecs: pd.Series) -> pd.Series:
        mask, m = _valid_rows(vecs, dim)
        out = pd.array([None] * len(vecs), dtype="Int32")
        if mask.any():
            out[mask] = _nearest(m, ordered, 1)[0]
        return pd.Series(out)

    return _cell.asNondeterministic()(F.col(vec_col))


def _update(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """New centroids: exact decimal mean per (cluster, dim) — the
    embedding_label_centroids pattern.  Collects k*dim doubles."""
    rows = (
        assigned.select("cluster", F.posexplode(VEC_COL).alias("pos", "v"))
        # ragged (non-null, wrong-dim) vectors survive posexplode with a
        # NULL cluster from nearest_centroid; drop them or sorted(by_cid)
        # below compares None to int and the fit crashes
        .filter(F.col("cluster").isNotNull())
        .groupBy("cluster", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("comp")
        )
        .collect()
    )
    by_cid: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cid.setdefault(r["cluster"], {})[r["pos"]] = r["comp"]
    return [
        (cid, [dims[p] for p in sorted(dims)]) for cid, dims in sorted(by_cid.items())
    ]


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Run the Lloyd iterations and return the FINAL centroid list
    (the centroids the ``iters``-th assignment round uses) — callers
    choose how to assign against them (argmin for clustering, top-p
    for multi-probe blocking)."""
    init = embeddings.orderBy(ID_COL).limit(k).select(VEC_COL).collect()
    cents = [(i, [float(v) for v in r[VEC_COL]]) for i, r in enumerate(init)]
    for _ in range(iters - 1):
        assigned = embeddings.withColumn("cluster", nearest_centroid(VEC_COL, cents))
        cents = _update(assigned)
    return cents


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Deterministic Lloyd's: ``iters`` assignment rounds with a
    centroid update between consecutive rounds.  Returns one row per
    vector: (vec_id, cluster).  ``cents`` pins an externally fitted
    (e.g. artifact-cached) clustering; None fits on the input."""
    if cents is None:
        cents = kmeans_fit(embeddings, k, iters)
    return embeddings.select(ID_COL, nearest_centroid(VEC_COL, cents).alias("cluster"))


def semantic_dedup_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    assign_probes: int = 2,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): cluster embeddings with k-means,
    then find near-duplicate pairs ONLY within shared clusters — the
    cluster id is the blocking key that turns an O(n^2) all-pairs
    cosine scan into sum-of-cluster-sizes-squared work.

    ``assign_probes`` is the recall dial (the k-means analogue of LSH
    ``hamming_probe`` / IVF ``nprobe``): each vector blocks into its
    top-p nearest clusters, so a pair straddling one boundary still
    meets in the runner-up cluster.  Candidate volume grows ~p^2 per
    cluster; measured on the near-uniform synthetic embeddings
    (BASELINE.md) p=2 roughly doubles recall over p=1.

    Plan is candidates-then-rescore (the minhash-LSH shape): the
    blocking join carries ONLY (id, cluster) pairs — no vectors — and
    pairs found in two shared clusters collapse to one BEFORE any
    cosine math; vectors join back by id with a per-vector norm
    precomputed ONCE, so each unique candidate pair costs exactly one
    dot-product fold (vs. the naive join-with-vectors plan: ~2x the
    shuffle bytes and 3 folds per candidate — measured 4-5x slower at
    the 10x probe).

    Scale shape: at 100 TB, k grows with the corpus (SemDeDup uses
    ~10^5 clusters) so per-cluster populations stay bounded and the
    within-cluster self-join is an equi-join on the cluster id —
    shuffle-partitioned by cluster, never a cross join.

    Returns distinct (a, b, cosine_sim) for shared-cluster pairs with
    rounded cosine >= threshold, a < b.
    """
    pairs = cluster_blocked_cosine_pairs(embeddings, k, iters, assign_probes, cents)
    return pairs.filter(F.col("cosine_sim") >= threshold)


def knn_graph(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    k: int = 8,
    iters: int = 2,
    assign_probes: int = 2,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate all-kNN join: for EVERY vector, its k_neighbors
    nearest neighbors by cosine among cluster-blocked candidates — the
    kNN-graph construction behind graph-based dedup, SemDeDup
    refinement, and ANN index build, as one DataFrame plan.

    Cost is the same undirected candidate rescore as
    semantic_dedup_pairs (each unique pair's cosine computes ONCE);
    the directed view is a union of the two orientations, then a
    per-source top-k window partitioned by the source id — fully
    distributed, no global sort.  Recall vs the exact all-pairs kNN is
    the same dial as SemDeDup: cluster count vs probes.

    Returns (a, b, cosine_sim): b ranks among a's k_neighbors nearest
    candidates (ties by neighbor id).  ``cents`` pins an externally
    fitted clustering (see knn_graph_extend); None fits on the input.
    """
    pairs = cluster_blocked_cosine_pairs(embeddings, k, iters, assign_probes, cents)
    return _topk_per_source(_both_ways(pairs), k_neighbors)


def knn_graph_extend(
    old_edges: DataFrame,
    old_emb: DataFrame,
    new_emb: DataFrame,
    k_neighbors: int = 5,
    k: int = 8,
    iters: int = 2,
    assign_probes: int = 2,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Incremental kNN-graph maintenance: extend a materialized graph
    (``old_edges`` = the prior build over ``old_emb``) with an arriving
    batch ``new_emb`` WITHOUT re-rescoring the old corpus against
    itself.  Centroids stay pinned from the old fit (re-fit drift is
    deferred to periodic rebuilds — standard IVF practice), so the only
    pairs that pay a cosine fold are those with at least one NEW side;
    old sources keep their stored top-k as candidates and merely
    re-rank against the new arrivals.

    Exactness: for any source, top-k(top-k(old candidates) ∪ new
    candidates) == top-k(all candidates), so the extended graph is
    IDENTICAL to a full rebuild under the same pinned clustering
    (asserted in tests/test_extensions.py).  What pinning gives up is
    only centroid drift — the recall dial is unchanged.

    Scale shape: cost ∝ |new| x cluster occupancy, not |corpus|² —
    the per-batch price of keeping a 10^9-vector graph current; the
    merge is one union + the same per-source top-k window, keyed by
    source id."""
    if cents is None:
        cents = kmeans_fit(old_emb, k=k, iters=iters)
    all_emb = old_emb.unionByName(new_emb)
    assigned = _topp_assign(all_emb, cents, assign_probes, ID_COL, VEC_COL)
    is_new = new_emb.select(F.col(ID_COL), F.lit(True).alias("___new"))
    # flagged feeds BOTH aliases of the cell self-join below: without a
    # pin the Arrow-batched _topp_assign pass runs once per alias
    # (r15 measured 0.86-0.93x pinned, interleaved min-of-5 x2);
    # the pinned frame is (id, cluster, flag) — assign_probes rows per
    # vector, never the embeddings themselves
    flagged = assigned.join(is_new, ID_COL, "left").select(
        ID_COL, "cluster", F.coalesce(F.col("___new"), F.lit(False)).alias("___new")
    ).localCheckpoint(eager=False)
    cand = (
        flagged.alias("x")
        .join(flagged.alias("y"), "cluster")
        .filter(
            (F.col(f"x.{ID_COL}") < F.col(f"y.{ID_COL}"))
            & (F.col("x.___new") | F.col("y.___new"))
        )
        .select(F.col(f"x.{ID_COL}").alias("a"), F.col(f"y.{ID_COL}").alias("b"))
        .distinct()
    )
    # new_pairs feeds both orientations of the directed union — pin the
    # rescore (a cosine fold per candidate pair) to one evaluation
    new_pairs = _rescore_pairs(cand, all_emb).localCheckpoint(eager=False)
    # old_edges are already directed; fold them in as one-orientation
    # candidates on top of the new pairs' two orientations
    old = old_edges.select("a", "b", "cosine_sim")
    return _topk_per_source(old.unionByName(_both_ways(new_pairs)), k_neighbors)


def _topp_assign(
    embeddings: DataFrame,
    cents: list[tuple[int, list[float]]],
    assign_probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-p multi-probe cluster assignment: (id_col, cluster) rows,
    ``assign_probes`` per vector (``_nearest`` over Arrow batches).
    Null/ragged vectors are dropped from the probe output rather than
    crashing the batch."""
    from pyspark.sql import types as T

    ordered = _ordered(cents)
    dim = len(ordered[0][1])
    id_field = next(f for f in embeddings.schema.fields if f.name == id_col)
    out_schema = T.StructType([id_field, T.StructField("cluster", T.IntegerType())])

    def _map(batches):
        for pdf in batches:
            mask, m = _valid_rows(pdf[vec_col], dim)
            near = _nearest(m, ordered, assign_probes)
            yield pd.DataFrame(
                {
                    id_col: np.tile(pdf[id_col].to_numpy()[mask], len(near)),
                    "cluster": near.ravel(),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(_map, schema=out_schema)


# neq per-label blocking is a win while distinct labels per cell stay
# small (each label pays one numpy call); past this it degenerates to
# O(labels) tiny calls and the single-block + post-mask path wins
NEQ_MAX_DISTINCT = 64


def cell_pair_cos(
    x: DataFrame,
    y: DataFrame,
    cell_col: str,
    x_id: str,
    y_id: str,
    x_vec: str,
    y_vec: str,
    x_nrm: str,
    y_nrm: str,
    x_extra: tuple[str, ...] = (),
    y_extra: tuple[str, ...] = (),
    neq: tuple[str, str] | None = None,
) -> DataFrame:
    """All cross pairs within each cell with exact cosine, Arrow-batched
    (the ``_sq_dists`` contract applied to PAIR scoring): per
    dimension, the dot accumulates ONE outer product at a time in
    float64 — ``acc = acc + X[:,i] ⊗ Y[:,i]`` — which is element-wise
    the identical IEEE left fold the interpreted
    ``aggregate(zip_with(...))`` Column and the oracle's ``list_sum``
    compute (never np.dot/BLAS, whose blocked summation reorders the
    adds).  The division uses the callers' precomputed norms
    (``cos = dot / (na*nb)``, same expression shape).  ``cos`` returns
    UNROUNDED; callers apply ``F.round`` Spark-side so rounding stays
    byte-identical to the Column path.

    ``neq=(x_col, y_col)`` masks pairs whose two columns hold the SAME
    non-null value BEFORE the outer-product accumulation (per distinct
    left value, only the right rows with a different value enter the
    block), so a caller like hard_negative_mining that would filter
    ``anchor_label != neg_label`` afterwards never pays for the
    same-label half of the matrix.  NULL handling: a NULL-labeled LEFT
    row produces NO pairs under the mask (the SQL ``!=`` filter drops
    those pairs too, so nothing is lost); a NULL-labeled RIGHT row
    still pairs with every non-null-labeled left row — callers keep
    their Spark-side ``!=`` filter for exact three-valued-logic parity,
    and the mask only ever drops pairs that filter would drop too.
    Above ``NEQ_MAX_DISTINCT`` distinct left labels per cell the
    per-label blocking would degenerate to O(labels) tiny numpy calls,
    so it falls back to ONE full block with the mask applied after —
    per-pair accumulation is element-wise, so both paths produce
    bit-identical cos values.

    Scale shape: cogroup shuffles both sides once by cell; per-cell
    work is an occupancy² float64 matrix (bounded by the k∝n rule's
    ~constant occupancy), vectorized across the whole cell instead of
    one interpreted fold per pair — measured ~2× on the
    hard-negative/bitext family at sf0.1."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    xf = {f.name: f for f in x.schema.fields}
    yf = {f.name: f for f in y.schema.fields}
    out_fields = (
        [xf[x_id]]
        + [xf[c] for c in x_extra]
        + [yf[y_id]]
        + [yf[c] for c in y_extra]
        + [T.StructField("cos", T.DoubleType())]
    )
    out_schema = T.StructType(out_fields)
    out_names = [f.name for f in out_fields]

    def _pairs(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({n: [] for n in out_names})
        X = np.array(
            [np.asarray(v, dtype=np.float64) for v in left[x_vec]]
        )
        Y = np.array(
            [np.asarray(v, dtype=np.float64) for v in right[y_vec]]
        )
        xn = left[x_nrm].to_numpy()
        yn = right[y_nrm].to_numpy()

        def _block(
            li: np.ndarray, rj: np.ndarray
        ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
            Xb, Yb = X[li], Y[rj]
            acc = np.zeros((len(li), len(rj)))
            for i in range(X.shape[1]):
                acc = acc + np.multiply.outer(Xb[:, i], Yb[:, i])
            cos = acc / np.multiply.outer(xn[li], yn[rj])
            return (
                np.repeat(li, len(rj)),
                np.tile(rj, len(li)),
                cos.ravel(),
            )

        if neq is None:
            blocks = [
                _block(np.arange(len(X)), np.arange(len(Y)))
            ]
        else:
            lvals = left[neq[0]].to_numpy()
            rvals = right[neq[1]].to_numpy()
            uniq = pd.unique(left[neq[0]])
            if len(uniq) > NEQ_MAX_DISTINCT:
                # high-cardinality fallback: one full block, mask after
                # (identical element-wise accumulation -> identical cos)
                ai_f, bi_f, cos_f = _block(
                    np.arange(len(X)), np.arange(len(Y))
                )
                lnull = pd.isna(left[neq[0]]).to_numpy()
                eq = lvals[:, None] == rvals[None, :]
                keep = ((~lnull)[:, None] & ~eq).ravel()
                blocks = [(ai_f[keep], bi_f[keep], cos_f[keep])]
            else:
                blocks = []
                for la in uniq:
                    li = np.flatnonzero(lvals == la)
                    rj = np.flatnonzero(rvals != la)
                    if li.size and rj.size:
                        blocks.append(_block(li, rj))
            if not blocks:
                return pd.DataFrame({n: [] for n in out_names})
        ai = np.concatenate([b[0] for b in blocks])
        bi = np.concatenate([b[1] for b in blocks])
        cos_all = np.concatenate([b[2] for b in blocks])
        data = {x_id: left[x_id].to_numpy()[ai]}
        for c in x_extra:
            data[c] = left[c].to_numpy()[ai]
        data[y_id] = right[y_id].to_numpy()[bi]
        for c in y_extra:
            data[c] = right[c].to_numpy()[bi]
        data["cos"] = cos_all
        return pd.DataFrame(data)

    # re-alias every y column (fresh attribute ids): when both sides
    # derive from the same parent frame, bare column refs share expr
    # ids across the cogroup children and Spark's attribute dedup +
    # column pruning can drop the shared columns from one side under a
    # pruning parent (e.g. .count()) — the Python worker then receives
    # a frame missing columns.  A self-alias Project severs the lineage.
    y = y.select(*[F.col(c).alias(c) for c in y.columns])
    return (
        x.groupBy(cell_col)
        .cogroup(y.groupBy(cell_col))
        .applyInPandas(_pairs, schema=out_schema)
    )


def _rescore_pairs(cand: DataFrame, embeddings: DataFrame) -> DataFrame:
    """One cosine fold per unique (a, b) candidate pair, with the
    per-vector norm precomputed once."""
    v = embeddings.select(
        F.col(ID_COL),
        F.col(VEC_COL),
        F.sqrt(dot(F.col(VEC_COL), F.col(VEC_COL))).alias("___nrm"),
    )
    sim = F.round(
        dot(F.col("___va"), F.col("___vb")) / (F.col("___na") * F.col("___nb")),
        ROUND_DIGITS,
    )
    return (
        cand.join(
            v.select(
                F.col(ID_COL).alias("a"),
                F.col(VEC_COL).alias("___va"),
                F.col("___nrm").alias("___na"),
            ),
            "a",
        )
        .join(
            v.select(
                F.col(ID_COL).alias("b"),
                F.col(VEC_COL).alias("___vb"),
                F.col("___nrm").alias("___nb"),
            ),
            "b",
        )
        .select("a", "b", sim.alias("cosine_sim"))
    )


def _both_ways(pairs: DataFrame) -> DataFrame:
    """Directed view of (a, b, cosine_sim) pairs: both orientations."""
    return pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "cosine_sim")
    )


def _topk_per_source(directed: DataFrame, k_neighbors: int) -> DataFrame:
    """Directed edges -> per-source top-k by (cosine_sim DESC,
    neighbor id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("a").orderBy(F.col("cosine_sim").desc(), F.col("b"))
    return (
        directed.withColumn("___rn", F.row_number().over(w))
        .filter(F.col("___rn") <= k_neighbors)
        .select("a", "b", "cosine_sim")
    )


def cluster_blocked_cosine_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    assign_probes: int = 2,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Shared candidates-then-rescore core: k-means top-p blocking,
    unique (a < b) pair ids, one cosine fold per pair with precomputed
    norms.  Returns (a, b, cosine_sim) unthresholded.  ``cents`` pins
    an externally fitted clustering (incremental maintenance); None
    fits on the input."""
    if cents is None:
        cents = kmeans_fit(embeddings, k=k, iters=iters)
    assigned = _topp_assign(embeddings, cents, assign_probes, ID_COL, VEC_COL)
    cand = (
        assigned.alias("x")
        .join(assigned.alias("y"), "cluster")
        .filter(F.col(f"x.{ID_COL}") < F.col(f"y.{ID_COL}"))
        .select(
            F.col(f"x.{ID_COL}").alias("a"), F.col(f"y.{ID_COL}").alias("b")
        )
        .distinct()
    )
    return _rescore_pairs(cand, embeddings)


def pca_fit(
    embeddings: DataFrame,
    iters: int = 3,
) -> tuple[list[float], list[float]]:
    """Power-iteration fit: returns (per-dim exact-decimal mean, unit
    top-component vector) — the reusable half of pca_top_component,
    for callers that PROJECT onto the axis rather than report it.
    Determinism contract documented on pca_top_component."""
    import math

    mean_rows = (
        embeddings.select(F.posexplode(VEC_COL).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("m")
        )
        .collect()
    )
    mean = [r["m"] for r in sorted(mean_rows, key=lambda r: r["pos"])]
    dim = len(mean)
    mean_lit = lit_array(mean)
    xc = F.zip_with(
        F.col(VEC_COL), mean_lit, lambda x, m: x.cast("double") - m
    )
    centered = embeddings.select(xc.alias("___xc"))

    v = [1.0] + [0.0] * (dim - 1)
    for _ in range(iters):
        vlit = lit_array(v)
        t = centered.select("___xc", dot(F.col("___xc"), vlit).alias("___u"))
        w_rows = (
            t.select(F.posexplode("___xc").alias("pos", "x"), "___u")
            .groupBy("pos")
            .agg(
                F.sum(
                    F.round(F.col("x") * F.col("___u"), 10).cast(
                        "decimal(28,10)"
                    )
                )
                .cast("double")
                .alias("w")
            )
            .collect()
        )
        w = [r["w"] for r in sorted(w_rows, key=lambda r: r["pos"])]
        # in-order fold, mirrored by the oracle's list_sum over the
        # dim-ordered array
        norm = math.sqrt(sum(wi * wi for wi in w))
        v = [wi / norm for wi in w]
    return mean, v


def pca_top_component(
    embeddings: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Top principal component by power iteration — the data-DRIVEN
    projection next to the data-oblivious JL (similarity.py): center
    on the exact-decimal per-dim mean, then ``iters`` rounds of
    v <- normalize(Σ_x x_c (x_c · v)) from the deterministic e_1 start.

    Every source of cross-engine or partitioning nondeterminism is
    pinned (the k-means contract): per-row projections x_c·v are
    in-order double folds (deterministic projections), per-dim
    contribution sums go rounded-then-DECIMAL (order-independent), the
    normalization is an in-order fold over dim doubles replayed
    identically by the oracle.  Fixed iteration count, so the sign
    convention is simply "whatever e_1 converges to" on both engines.

    Scale shape per round: one projection pass over the vectors + one
    |dim|-row shuffle; driver traffic is dim doubles per round (the
    centroid-update class).  Returns (dim 1-based, loading rounded).
    """
    _, v = pca_fit(embeddings, iters=iters)
    rows = [(i + 1, round(c, ROUND_DIGITS)) for i, c in enumerate(v)]
    return embeddings.sparkSession.createDataFrame(
        rows, "dim int, loading double"
    )
