"""Sequential per-key time-series operators (linear recurrences).

An exponentially-weighted moving average is the textbook operator SQL
windows cannot express exactly: s_t = alpha*x_t + (1-alpha)*s_{t-1} is
a linear RECURRENCE, not a frame aggregate.  The closed form
sum(alpha*(1-alpha)^(t-i) * x_i) exists but pow()-based evaluation
overflows/underflows for long histories and its summation order is
engine-dependent — so the portable exact form is the recurrence
itself, run sequentially WITHIN each key and in parallel ACROSS keys.

Spark shape: repartition by key (explicit partition count — the
shuffle is tiny in BYTES so AQE would coalesce it to one task, but
the downstream work is CPU-bound Python; see docs/SCALE.md), sort
within partitions by (key, order...), then ONE ``mapInPandas`` scan
per partition that detects key boundaries and replays each key's
recurrence in order.  This costs one Python call per Arrow batch
instead of one per GROUP (``applyInPandas`` pays ~ms of pandas
overhead per key — 1500 keys made that the whole runtime), while the
per-key float operation ORDER is identical, so results stay
bit-reproducible.  State is O(1) per key carried across batch
boundaries inside the generator; a single pathologically long key is
the only serial unit (same bound as any order-dependent per-key scan).
With alpha = 0.5 every weight is a power of two, so the float64
recurrence is exact IEEE arithmetic reproducible across engines (the
DuckDB oracle twin replays the identical recurrence via a recursive
CTE).

The per-row Python loop is deliberate: pandas ``ewm(adjust=False)``
computes the same value through a different operation order (weighted
running sums), which breaks bit-parity; production code chasing speed
can swap it in at the cost of last-ulp drift.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def ewma_last_per_key(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Final EWMA value per key after replaying that key's history in
    (order_cols) order.  Returns (key_col, n_events, ewma)."""
    # key field mirrors the input type — a hardcoded bigint crashes on
    # string/decimal keys at the Arrow boundary
    key_dt = df.schema[key_col].dataType.simpleString()
    schema = f"{key_col} {key_dt}, n_events bigint, ewma double"
    beta = 1.0 - alpha
    n_parts = df.sparkSession.sparkContext.defaultParallelism

    src = (
        df.select(key_col, *order_cols, value_col)
        .repartition(n_parts, key_col)
        .sortWithinPartitions(key_col, *order_cols)
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        started = False
        cur = 0
        s = 0.0
        n = 0
        out_k: list[int] = []
        out_n: list[int] = []
        out_s: list[float] = []
        for pdf in batches:
            keys = pdf[key_col].to_numpy()
            vals = pdf[value_col].to_numpy()
            for k, x in zip(keys.tolist(), vals.tolist()):
                if not started or k != cur:
                    if started:
                        out_k.append(cur)
                        out_n.append(n)
                        out_s.append(s)
                    started = True
                    cur = k
                    s = float(x)
                    n = 1
                else:
                    s = alpha * float(x) + beta * s
                    n += 1
        if started:
            out_k.append(cur)
            out_n.append(n)
            out_s.append(s)
            yield pd.DataFrame(
                {key_col: out_k, "n_events": out_n, "ewma": out_s}
            )
        # empty partition: yield nothing (an object-dtype empty frame would
        # trip Arrow's concat dtype inference)

    return src.mapInPandas(scan, schema=schema)


def ewma_last_per_key_parallel(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Skew-robust twin of ``ewma_last_per_key`` — same recurrence,
    NO serial per-key unit, explicitly NOT bit-parity (r12 verdict #3).

    The EWMA step y_i = alpha*x_i + beta*y_{i-1} is an AFFINE map
    y -> beta*y + alpha*x_i, and affine maps compose associatively:
    (a2,b2)∘(a1,b1) = (a1*a2, b1*a2 + b2).  So the fold over a key's
    history can be computed as a two-level scan instead of one serial
    replay:

    1. range-repartition by (key, *order) — a hot key SPLITS across
       partitions by order position, exactly like ``running_rows_sum``;
    2. one Arrow ``mapInPandas`` pass emits ONE partial per
       (partition, key-run): the composed map (a = beta^cnt,
       b = alpha * sum_j x_j * beta^(cnt-1-j), numpy-vectorized), the
       run length, and the run's first value;
    3. per key, the partials (at most one per partition — bounded by
       cluster width, NOT corpus size) fold in partition order with a
       JVM-side ``F.aggregate``: y := a*y + b, seeded with the key's
       first value (y_0 = x_1 reproduces the y_1 = x_1 convention:
       alpha*x_1 + beta*x_1 = x_1 up to one rounding).

    Numerics: beta^cnt underflows gracefully to 0 for long runs
    (history older than ~5000 steps at alpha=0.5 is below double
    precision anyway), and the partial's weighted sum associates
    differently from the serial Horner order — both effects bound the
    drift at ~1 ulp per reassociation.  Measured max |Δ| vs the serial
    form: BASELINE.md r13 (≈1e-13 at sf0.1, alpha=0.5).  Callers who
    need bit-parity with the sequential replay (the documented
    contract of ``ewma_last_per_key``) must keep the serial form; this
    twin is for hot-key-skewed inputs where one key owning half the
    corpus would serialize half the work onto one task.

    Returns (key_col, n_events, ewma) — same shape as the serial form.
    NULL keys are out of contract for BOTH forms (the serial scan
    treats each NULL run as its own key and emits one row per run; the
    parallel fold would merge them) — callers filter or impute first,
    as every registered caller does.
    """
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    beta = 1.0 - alpha
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    src = (
        df.select(key_col, *order_cols, value_col)
        .repartitionByRange(num_partitions, key_col, *order_cols)
        .sortWithinPartitions(key_col, *order_cols)
    )
    # key field mirrors the INPUT type (like the serial twin): a
    # hardcoded bigint would crash on string/decimal keys and silently
    # TRUNCATE float keys (1.2 and 1.7 merging into key 1)
    key_dt = df.schema[key_col].dataType.simpleString()
    part_schema = (
        f"{key_col} {key_dt}, _pid int, _cnt bigint, _a double, "
        f"_b double, _x0 double"
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pid = TaskContext.get().partitionId()
        started = False
        cur = None  # native key value of the carried run (any type)
        cnt = 0
        a = 1.0
        b = 0.0
        x0 = 0.0
        out: list[tuple] = []

        def seg_compose(x: "np.ndarray") -> tuple[float, float]:
            # composed map of a contiguous run: a = beta^m,
            # b = alpha * dot(x, beta^[m-1 .. 0]) — the vectorized
            # closed form of folding (beta, alpha*x_j) left to right
            m = len(x)
            w = beta ** np.arange(m - 1, -1, -1, dtype="float64")
            return float(beta**m), float(alpha * np.dot(x, w))

        for pdf in batches:
            keys = pdf[key_col].to_numpy()
            vals = pdf[value_col].to_numpy(dtype="float64", na_value=np.nan)
            if len(keys) == 0:
                continue
            # contiguous same-key run boundaries within the batch
            cuts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [len(keys)]))
            for s, e in zip(starts.tolist(), ends.tolist()):
                # native key value, NOT int(): int() on a float key
                # truncates (merging distinct keys) and crashes on
                # string/decimal keys
                k = pdf[key_col].iloc[s]
                sa, sb = seg_compose(vals[s:e])
                if started and k == cur:
                    # extend the carried run: carry ∘ segment
                    a, b = a * sa, b * sa + sb
                    cnt += e - s
                else:
                    if started:
                        out.append((cur, pid, cnt, a, b, x0))
                    started, cur, cnt = True, k, e - s
                    a, b, x0 = sa, sb, float(vals[s])
        if started:
            out.append((cur, pid, cnt, a, b, x0))
        if out:
            yield pd.DataFrame(
                out, columns=[key_col, "_pid", "_cnt", "_a", "_b", "_x0"]
            )

    parts = src.mapInPandas(partials, schema=part_schema)
    # fold partials per key in partition (= order) position: struct
    # sort is lexicographic by field order, so _pid leads
    folded = parts.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(F.struct("_pid", "_cnt", "_a", "_b", "_x0"))
        ).alias("_ps")
    )
    y0 = F.element_at(F.col("_ps"), 1)["_x0"]
    return folded.select(
        key_col,
        F.aggregate(
            "_ps", F.lit(0).cast("bigint"), lambda acc, p: acc + p["_cnt"]
        ).alias("n_events"),
        F.aggregate(
            "_ps", y0, lambda acc, p: p["_a"] * acc + p["_b"]
        ).alias("ewma"),
    )


def running_rows_sum(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Skew-robust per-key running total: for every row, the sum of
    ``value_col`` over rows of the same key at-or-before it in
    ``order_cols`` order — semantically identical to ``sum(value) OVER
    (PARTITION BY key ORDER BY order_cols ROWS BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW)`` including NULL-value handling (the
    running value is NULL until the frame holds a non-null value), but
    WITHOUT the per-key window's scale-out failure: a ROWS frame
    serializes each key on one task, so a hot key owning half the
    corpus puts half the work on one core (the r11 skew table measured
    the window form at 1.4x on a p=50 clone and documented this
    decomposition as the escape hatch — this is that sentence as code).

    A running total is ``sliding_range_sum`` with W → ∞: only the
    inclusive prefix term survives, and the per-key lower boundary is
    the key's START, i.e. the global prefix at the key's first row.
    So: ONE global prefix sum over (key, *order_cols) order — range-
    repartitioned, a hot key split across partitions by order position
    — minus a per-key offset computed from the (tiny, one row per key)
    per-key totals prefix-summed in the same key order.  The offset
    join back is a plain equi-join on the key (skew-splittable by AQE,
    unlike a window partition).  Requires (key, *order_cols) unique —
    the same determinism tiebreaker the window form needs anyway —
    and an order-independent accumulation type (integer/decimal;
    float is refused loudly, cast to decimal first).

    Scale shape: one range exchange + local window + broadcast-offset
    join (the row prefix), one groupBy(key) with map-side combine +
    its own tiny prefix (the key offsets), one hash join on key.  No
    per-key serialization anywhere."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from aws_pandas_etl_spark.operators.ranking import global_prefix_sums

    vtype = df.schema[value_col].dataType
    if isinstance(vtype, (T.FloatType, T.DoubleType)):
        raise TypeError(
            f"running_rows_sum needs an order-independent accumulation "
            f"type (integer/decimal); {value_col} is {vtype.simpleString()}"
        )

    # two synchronized channels over one prefix pass: the null-as-zero
    # running sum and the non-null running count (decides NULL-ness
    # exactly like the frame: NULL iff no non-null value seen yet)
    src = df.withColumns(
        {
            "_rv": F.coalesce(F.col(value_col), F.lit(0)),
            "_rc": F.col(value_col).isNotNull().cast("bigint"),
        }
    )
    pref = global_prefix_sums(
        src, [key_col, *order_cols], ["_rv", "_rc"], ["_ps", "_pc"]
    )
    # per-key offsets: global prefix of per-key totals in the SAME key
    # order — subtracting them converts the global prefix to a per-key
    # one.  One row per key; the prefix is over that aggregate, not
    # the corpus.
    tots = src.groupBy(F.col(key_col).alias("_ok")).agg(
        F.sum("_rv").alias("_tv"), F.sum("_rc").alias("_tc")
    )
    offs = global_prefix_sums(tots, ["_ok"], ["_tv", "_tc"], ["_ov", "_oc"])
    out = pref.join(
        offs.select("_ok", "_ov", "_oc"),
        F.col(key_col).eqNullSafe(F.col("_ok")),
    ).withColumn(
        out_col,
        F.when(
            F.col("_pc") + F.col("_rc") - F.col("_oc") > 0,
            F.col("_ps") + F.col("_rv") - F.col("_ov"),
        ),
    )
    return out.drop("_rv", "_rc", "_ps", "_pc", "_ok", "_ov", "_oc", "_tv", "_tc")


def sliding_range_sum(
    df: DataFrame,
    key_col: str,
    ts_us_col: str,
    value_col: str,
    window_us: int,
    out_col: str = "sliding_sum",
) -> DataFrame:
    """Skew-robust trailing range-window sum: for every row, the sum of
    ``value_col`` over rows of the same key with
    ``ts in [row.ts - window_us, row.ts]`` — semantically identical to
    ``sum(value) OVER (PARTITION BY key ORDER BY ts RANGE BETWEEN
    window_us PRECEDING AND CURRENT ROW)`` including peer rows (equal
    timestamps aggregate together) and NULLs (a NULL key is its own
    partition; NULL timestamps are mutual peers whose frame is exactly
    the NULL peer group — both ride the same null-safe joins and the
    prefix order's NULLS-FIRST placement), but WITHOUT the per-key
    window's
    scale-out failure: a RANGE frame serializes each key on one task,
    so a hot key holding 50% of the corpus puts 50% of the work on one
    core (measured 4.3x degradation on the r11 adversarial skew clone —
    BASELINE.md).

    The classic two-prefix-sum decomposition instead:
        trail(e) = C(key, ts_e) - C(key, ts_e - W - eps)
    where C is the per-key inclusive prefix sum in time order.  Both
    terms ride ONE global prefix sum over (key, ts, probe-flag) —
    ``ranking.global_prefix_sums``' range-repartitioned two-pass scheme
    splits a hot key across partitions by time range — with one probe
    row injected per distinct (key, ts) at ts - window_us, flagged to
    sort BEFORE real rows at the same timestamp so its prefix counts
    exactly the strictly-older-than-boundary rows.  The per-key offset
    (sum of all earlier keys in the global order) cancels in the
    difference, so no per-key correction is needed.  Exact for
    decimal/integer values (the sum type must be order-independent;
    floats would drift in the last ulps across the two passes).

    Scale shape: one groupBy (key, ts) with map-side combine, one
    range exchange + broadcast-offset join (the prefix), one
    equi-join of each (key, ts) group to its probe, one equi-join back
    to rows.  No per-key serialization anywhere; worst case is the
    range partitioner's per-partition row bound, independent of key
    skew."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from aws_pandas_etl_spark.operators.ranking import global_prefix_sums

    vtype = df.schema[value_col].dataType
    if isinstance(vtype, (T.FloatType, T.DoubleType)):
        # the two prefix passes re-associate the additions, so float
        # accumulation can differ from the sequential window frame in
        # the last ulps — refuse loudly instead of drifting silently
        # (cast to decimal at the precision the column warrants first)
        raise TypeError(
            f"sliding_range_sum needs an order-independent accumulation "
            f"type (integer/decimal); {value_col} is {vtype.simpleString()}"
        )

    # RANGE-frame peers aggregate together: one group row per (key, ts).
    # Two channels ride the same prefix machinery: the null-safe sum
    # (_gv, nulls as 0) and the non-null COUNT (_gc) — a window sum is
    # NULL iff its whole frame holds no non-null value, so the count
    # difference decides null-ness exactly like the frame would.
    g = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(ts_us_col).alias("_t"),
            F.col(value_col).alias("_v"),
        )
        .groupBy("_k", "_t")
        .agg(
            F.coalesce(F.sum("_v"), F.lit(0)).alias("_gv"),
            F.count("_v").alias("_gc"),
        )
    )
    # probes sort BEFORE real rows at an equal timestamp (flag 0 < 1):
    # a probe's exclusive prefix then counts rows strictly below the
    # window boundary — the exact complement of the inclusive frame
    real = g.select("_k", "_t", F.lit(1).alias("_fl"), "_gv", "_gc")
    probes = g.select(
        "_k",
        (F.col("_t") - F.lit(window_us)).alias("_t"),
        F.lit(0).alias("_fl"),
        F.lit(0).cast(real.schema["_gv"].dataType).alias("_gv"),
        F.lit(0).cast("bigint").alias("_gc"),
    )  # g rows are distinct (key, ts), so probes are distinct too
    u = real.unionByName(probes)
    pref = global_prefix_sums(
        u, ["_k", "_t", "_fl"], ["_gv", "_gc"], ["_ps", "_pc"]
    )
    incl = pref.filter(F.col("_fl") == 1).select(
        "_k",
        "_t",
        (F.col("_ps") + F.col("_gv")).alias("_c_hi"),
        (F.col("_pc") + F.col("_gc")).alias("_n_hi"),
    )
    low = pref.filter(F.col("_fl") == 0).select(
        F.col("_k").alias("_k2"),
        (F.col("_t") + F.lit(window_us)).alias("_t2"),
        F.col("_ps").alias("_c_lo"),
        F.col("_pc").alias("_n_lo"),
    )
    # null-safe equi-joins (still hash/sort-merge joinable): a NULL key
    # forms its own partition and NULL timestamps are mutual peers —
    # groupBy already keeps NULL groups, probes at NULL-W stay NULL,
    # and NULLS-FIRST ordering in the prefix makes a NULL group's
    # difference exactly its own group sum, matching the RANGE frame's
    # NULL-ordering semantics (r11 ADVICE: plain == dropped such rows)
    per_group = incl.join(
        low,
        F.col("_k").eqNullSafe(F.col("_k2"))
        & F.col("_t").eqNullSafe(F.col("_t2")),
    ).select(
        "_k",
        "_t",
        F.when(
            F.col("_n_hi") - F.col("_n_lo") > 0,
            F.col("_c_hi") - F.col("_c_lo"),
        ).alias(out_col),
    )
    return df.join(
        per_group,
        F.col(key_col).eqNullSafe(F.col("_k"))
        & F.col(ts_us_col).eqNullSafe(F.col("_t")),
    ).drop("_k", "_t")


PSI_NBINS = 20


def psi_clamped_bins(ev: DataFrame, nbins: int = PSI_NBINS) -> DataFrame:
    """Clamped drift-monitor binning, shared by the batch PSI query,
    the streaming PSI monitor, and (textually) their DuckDB oracle:
    per event type, ``nbins`` equal-width bins derived from the
    REFERENCE half's [min, max] value range, plus an underflow bin
    (-1) and an overflow bin (``nbins``).

    The clamp is what makes the streaming monitor's state bounded BY
    CONSTRUCTION: the old ``floor(value / width)`` binning minted a new
    (type, bin) state row per distinct bin, so a corrupt or adversarial
    value stream grew the state grid without limit; here every value —
    including NaN-free garbage like 1e308 — lands in one of
    ``|types| x (nbins + 2)`` cells forever.  Out-of-range drift stays
    visible (it piles into the overflow/underflow cells, which is
    exactly what a population-stability monitor should report for
    values the reference never saw).

    Reference bounds come from each type's first temporal half
    (midpoint of [min ts, max ts], same rule as the halves split); a
    type with an empty reference half maps everything to overflow.
    Binning arithmetic is plain double ops in source order
    ``floor((value - vmin) * nbins / (vmax - vmin))`` so Spark and
    DuckDB agree bit-for-bit; values at/beyond vmax take the overflow
    bin, and the LEAST guard pins last-ulp rounding at vmax-epsilon to
    the top regular bin.

    Returns (event_type, bin, t, mid, ts, event_id) — one row per
    event, ``t < mid`` marking the reference half.

    Scale shape: two |types|-row broadcast joins (temporal midpoints,
    reference ranges) over one linear scan; nothing shuffles on data
    volume."""
    from pyspark.sql import functions as F

    u = ev.select(
        "event_type",
        "value",
        F.unix_micros("ts").alias("t"),
        "ts",
        "event_id",
    )
    bounds = u.groupBy("event_type").agg(
        F.expr("(MIN(t) + MAX(t)) DIV 2").alias("mid")
    )
    if not ev.isStreaming:
        # the |types|-row midpoint and reference-range frames each feed
        # two consumers; localCheckpoint pins them to one evaluation so
        # the batch callers stop re-scanning the stream per branch
        # (r16: psi_value_drift's unpinned plan scanned events 4x,
        # a786da4:plans/r16/psi_value_drift_before.txt).  Guarded on
        # isStreaming: checkpointing is a batch-only operation.
        bounds = bounds.localCheckpoint(eager=False)
    w = u.join(F.broadcast(bounds), "event_type")
    refb = (
        w.filter(F.col("t") < F.col("mid"))
        .groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    )
    if not ev.isStreaming:
        refb = refb.localCheckpoint(eager=False)
    wb = w.join(F.broadcast(refb), "event_type", "left")
    raw = F.floor(
        (F.col("value") - F.col("vmin"))
        * F.lit(float(nbins))
        / (F.col("vmax") - F.col("vmin"))
    )
    bin_ = (
        F.when(F.col("vmin").isNull(), F.lit(nbins))
        .when(F.col("value") < F.col("vmin"), F.lit(-1))
        .when(F.col("value") >= F.col("vmax"), F.lit(nbins))
        .otherwise(F.least(raw, F.lit(nbins - 1)))
    ).cast("bigint")
    return wb.select(
        "event_type", bin_.alias("bin"), "t", "mid", "ts", "event_id"
    )
