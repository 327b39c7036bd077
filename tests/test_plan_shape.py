"""Scale-posture assertions: the *plans* must have the shape we'd want
on a 1000-executor cluster — pushdown reaching the scan, broadcasts for
small dims, no Exchange in pure projections.
"""

from pyspark.sql import functions as F

from aws_pandas_etl_spark.plans.queries import QUERIES
from aws_pandas_etl_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_parquet_scan(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    ex = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in ex


def test_q1_column_pruning(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    ex = df._jdf.queryExecution().toString()
    # ReadSchema must not include unused columns like l_partkey/l_comment
    read_schema = [l for l in ex.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema
    assert "l_orderkey" not in read_schema


def test_q3_q5_broadcast_dims(spark):
    for q in ("q3_shipping_priority", "q5_region_revenue"):
        plan = _plan(QUERIES[q](spark, SF))
        assert "BroadcastHashJoin" in plan, f"{q} should broadcast its dims"


def test_etl_projection_no_shuffle(spark):
    plan = _plan(QUERIES["etl_enriched_events"](spark, SF))
    assert "Exchange" not in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(QUERIES["q3_shipping_priority"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_scan_projection_only_needed_columns(spark):
    df = load_table(spark, SF, "lineitem").select("l_orderkey")
    ex = df._jdf.queryExecution().toString()
    read_schema = [l for l in ex.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" not in read_schema


def test_semi_join_for_exists(spark):
    plan = _plan(QUERIES["order_priority_counts"](spark, SF))
    assert "LeftSemi" in plan


def test_anti_join_for_not_exists(spark):
    plan = _plan(QUERIES["customers_without_urgent_orders"](spark, SF))
    assert "LeftAnti" in plan


def test_new_tpch_shapes_broadcast_dims(spark):
    for q in ("q7_trade_volume", "q8_market_share", "q10_returned_items",
              "q14_promo_revenue", "q19_disjunctive_filter"):
        plan = _plan(QUERIES[q](spark, SF))
        assert "BroadcastHashJoin" in plan, f"{q} should broadcast its dims"


def test_q10_takeordered_and_returnflag_pushdown(spark):
    df = QUERIES["q10_returned_items"](spark, SF)
    ex = df._jdf.queryExecution().toString()
    assert "TakeOrderedAndProject" in ex
    assert "EqualTo(l_returnflag,R)" in ex  # filter reaches the parquet scan


def test_q19_common_predicates_pushed_below_join(spark):
    """Catalyst must extract brand/size implications of the OR onto the
    part scan so the broadcast build side shrinks before the join."""
    ex = QUERIES["q19_disjunctive_filter"](spark, SF)._jdf.queryExecution().toString()
    part_scan = [l for l in ex.splitlines() if "part.parquet" in l and "FileScan" in l][0]
    li_scan = [l for l in ex.splitlines() if "lineitem.parquet" in l][0]
    assert "p_brand" in part_scan  # brand/size implications on the part scan
    assert "l_quantity" in li_scan  # quantity implications on the fact scan


def test_q22_anti_join_and_single_scalar_agg(spark):
    plan = _plan(QUERIES["q22_wealthy_inactive"](spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar agg cross join


def test_pii_redaction_no_shuffle(spark):
    plan = _plan(QUERIES["pii_redaction"](spark, SF))
    assert "Exchange" not in plan  # pure codegen projection


def test_decontaminate_broadcasts_benchmark(spark):
    plan = _plan(QUERIES["decontaminate_benchmark"](spark, SF))
    assert "BroadcastHashJoin" in plan


# Queries whose plans legitimately contain a nested-loop/cross join of a
# 1-row (or tiny broadcast) side: scalar subqueries, bounds, query sets.
_SCALAR_CROSS_OK = {
    "q22_wealthy_inactive",          # 1-row global average
    "q14_promo_revenue",             # single global aggregate
    "q19_disjunctive_filter",        # single global aggregate
    "knn_classify_majority",         # 10-row broadcast query set
    "trim_length_outliers",          # 1-row percentile bounds
    "value_histogram_fixed_bins",    # 1-row max
    "conversion_funnel_view_click_purchase",  # three 1-row counts
    "tfidf_top_terms",               # 1-row corpus size
    "unigram_logprob_quality",       # 1-row corpus token total
    "stratified_sample_by_lang",     # n/a but CASE-rate may fold oddly
    "nation_revenue_share",          # 1-row exact-decimal denominator
    "mixture_sample_by_lang",        # 1-row min(count/share) scale factor
    "heavy_hitter_tokens",           # 1-row corpus token total (threshold)
    "pmi_bigrams_top20",             # two 1-row corpus totals (n_uni, n_bi)
    "bm25_topk_docs",                # 1-row corpus stats (n_docs, avgdl)
    "dsir_importance_weights",       # 1-row (t_all, t_tgt) totals in the
                                     # build plan (cold artifact root only)
    "dsir_gumbel_resample",          # same build plan via _dsir_weights
    "rolling_7d_distinct_users",     # 1-row max-day bound
    "fk_orphan_audit",               # 1-row total x 1-row orphan count
    "lang_source_chi2",              # 1-row grand total
    "rfm_user_segments",             # 1-row reference date
    "q11_important_stock",           # 1-row HAVING threshold
    "vocab_coverage_topn",           # 1-row total-token denominator
    "join_size_forecast",            # three 1-row forecast scalars
    "ivf_cell_balance",              # 1-row corpus total
    "expectations_report",           # 1-row rule aggregates
    "hybrid_retrieval_rrf",          # two 1-row query broadcasts
    "market_basket_part_lift",       # 1-row n_orders denominator
    "pca_projection_by_label",       # 1-row axis via pca_fit collects
    "neyman_sample_by_lang",         # 1-row Neyman normalizer W
    "source_mixture_kl",             # 1-row doc/char totals
    "vocab_growth_by_corpus_slice",  # 1-row (min,max) doc_id bounds
    "range_partition_bounds_value",  # 1-row count + 15-row bound idx
    "split_lang_independence_chi2",  # 1-row grand total
    "group_kfold_assignment",        # 1-row leakage-audit scalar
    "temperature_mixture_weights",   # 1-row total-tokens + 1-row Z normalizer
    "woe_iv_price_bands",            # 1-row class totals + 1-row IV scalar
    "shuffle_run_test_sources",      # 1-row runs x 1-row composition scalars
    "token_burstiness_top20",        # 1-row corpus-size denominator
    "doc_length_lognormal_fit",      # 1-row zero-length count
    "kmv_overlap_event_types",       # |types|^2 pair spine (<=25 rows) + OR-join
    "unigram_kl_by_source",          # |sources| x top-200 closed-vocab spine
    "t_closeness_audit",             # |classes| x |bands| attribute spine
    "kaplan_meier_signup_to_purchase",  # 1-row censor bound + 1-row N
    "inverted_index_terms",          # 1-row corpus-size df ceiling
    "knn_graph_triangles",           # three 1-row topology aggregates
    "markov_stationary_event_types",  # 1-row |types| uniform-start scalar
    "regression_stump_value_by_hour",  # 1-row grand totals x 24 thresholds
    "zone_map_pruning_stats",        # |steps| x |days| aggregate cross
    "hll_cumulative_daily_distinct",  # |days| x |days*64| register prefix join
    "heaps_law_fit",                 # 1-row (min,max) doc_id bounds
    "ece_quality_calibration",       # 1-row (min,max,total) score range
    "embedding_isotropy_probe",      # 1-row x 1-row diagnostic fold
    "knn_graph_degree_powerlaw",     # three 1-row fit/topology aggregates
    "exact_percentiles_histogram_refine",  # 1-row (min,max,n) stats broadcast
    "raking_weights_lang_source",    # 1-row total + 1-row axis-cardinality
    "retention_gc_plan",             # 1-row newest-snapshot date
    "freshness_lag_by_type",         # 1-row global max timestamp
    "exact_dup_lsh_recall",          # two 1-row pair counts
    "cdc_time_travel_diff",          # 1-row time-travel cut instant
    "fd_binwidth_recommendation",    # 1-row (min,max,n) stats broadcast
    "unigram_entropy_effective_vocab",  # 1-row corpus token total
    "source_mixture_after_dedup",    # two 1-row share denominators
    "cross_perplexity_by_source",    # 1-row (t, v) LM normalizer
}

# Streaming queries execute a real job on invocation — planning them
# here would run them; they have their own tests.
_SKIP_EXECUTING = {
    "streaming_events_hourly",
    "streaming_sessionize_stateful",
    "streaming_dedup_events",
    "streaming_dedup_within_watermark",
    "streaming_session_window_native",
    "streaming_static_join_enrich",
    "streaming_range_join_errors_clicks",
    "streaming_approx_distinct_linear",
    "streaming_hll_distinct",
    "streaming_foreach_batch_merge",
    "streaming_heavy_hitters",
}


def test_no_accidental_cartesian_or_nested_loop_joins(spark):
    """Global O(n*m) guard: no registered query may plan a
    CartesianProduct or BroadcastNestedLoopJoin unless it is a known
    1-row/scalar cross join.  Catches future regressions where a join
    condition stops being an equi-join (e.g. a renamed column turning
    a hash join into a nested loop over the full fact table)."""
    offenders = {}
    for name, fn in QUERIES.items():
        if name in _SKIP_EXECUTING or name in _SCALAR_CROSS_OK:
            continue
        plan = _plan(fn(spark, SF))
        bad = [
            kind
            for kind in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if kind in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-scalar cross joins: {offenders}"


def test_no_row_at_a_time_python_in_any_plan(spark):
    """Global hot-path guard: no registered query may plan a
    BatchEvalPython (row-at-a-time Python UDF — the 10-100x slow path).
    Python is allowed ONLY at Arrow boundaries (MapInPandas /
    FlatMapGroupsInPandas), which render as different nodes.  Sole
    exception: the Python-UDTF API-coverage query, whose docstring
    declares the relational trigram query as the hot-path twin —
    UDTFs have no Arrow evaluation mode to switch to."""
    allowed = {"udtf_char_trigrams_top20"}
    offenders = []
    for name, fn in QUERIES.items():
        if name in _SKIP_EXECUTING or name in allowed:
            continue
        if "BatchEvalPython" in _plan(fn(spark, SF)):
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"


def test_mixture_sample_broadcasts_rates(spark):
    """The mixture keep-rates (one row per group) must reach the scan
    side as a broadcast, never a shuffle of the documents table."""
    plan = _plan(QUERIES["mixture_sample_by_lang"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the sampling predicate is a hash-fraction filter, not a sample()
    assert "Sample" not in plan


def test_pack_sequences_uses_range_exchange_not_global_sort(spark):
    """The corpus-wide prefix sum must be the two-pass distributed
    scheme: a range exchange feeding partition-local windows, never a
    `Window [sum(...) ORDER BY doc_id]` over a single partition."""
    plan = _plan(QUERIES["pack_sequences_greedy"](spark, SF))
    assert "rangepartitioning" in plan.lower(), plan
    # the only SinglePartition exchange allowed is the tiny
    # per-partition-offsets frame (num_partitions rows), which is
    # broadcast back — the full data must never hit SinglePartition.
    lines = plan.splitlines()
    single_idx = [
        i
        for i, l in enumerate(lines)
        if "Exchange SinglePartition" in l and "ENSURE_REQUIREMENTS" in l
    ]
    # offsets frame goes through a SinglePartition window; its input is
    # the num_partitions-row aggregate, so at most one such exchange
    # may exist and it must sit above the groupBy(_gr_pid) aggregate —
    # checked structurally: the exchange's subtree must contain the
    # HashAggregate keyed on _gr_pid, never the full-data scan.
    assert len(single_idx) <= 1, plan
    for i in single_idx:
        # direct child of the exchange = what actually crosses into the
        # single partition: must be the tiny pid-keyed aggregate (one
        # row per partition), never the full data
        child = _subtree(lines, i).splitlines()[0]
        assert "HashAggregate" in child and "_gr_pid" in child, plan
    assert "BroadcastHashJoin" in plan, plan  # offsets join back via broadcast


def _alnum_indent(line: str) -> int:
    for i, ch in enumerate(line):
        if ch not in " :+-*":
            return i
    return len(line)


def _subtree(lines: list[str], i: int) -> str:
    """Lines of the tree-string subtree rooted at line i (everything
    below with strictly deeper indentation)."""
    indent = _alnum_indent(lines[i])
    out = []
    for line in lines[i + 1 :]:
        if _alnum_indent(line) <= indent:
            break
        out.append(line)
    return "\n".join(out)


# Key columns identifying tables whose size scales linearly with SF —
# ~2 TB each at the 100 TB target, where a forced broadcast hint
# bypasses the size threshold and OOMs the build instead of degrading
# to a shuffle join.
_SF_SCALING_KEYS = ("c_custkey", "p_partkey", "s_suppkey")

# Grouping keys whose distinct cardinality scales with the corpus even
# though the frame is an aggregate: one row per user / document /
# vocabulary term / embedding vector.  A frame grouped by one of these
# is NOT bounded — forcing a broadcast on it OOMs at 100x the same way
# a raw customer scan would.
_CORPUS_SCALING_GROUP_KEYS = ("user_id", "doc_id", "term", "vec_id")


def _balanced_list(text: str, start: int) -> str:
    """Contents of the bracketed list opening at text[start] == '['."""
    depth = 0
    for i in range(start, len(text)):
        if text[i] == "[":
            depth += 1
        elif text[i] == "]":
            depth -= 1
            if depth == 0:
                return text[start + 1 : i]
    return text[start + 1 :]


def _hinted_scaling_aggregates(df) -> list[str]:
    """Grouping-key hits for every broadcast hint whose broadcast
    cardinality is corpus-scaling: for each ResolvedHint, take the
    TOPMOST Aggregate in its subtree (that aggregate's grouping bounds
    what is materialized on the driver) and flag it if it groups by a
    corpus-scaling key.  Scalar aggregates (no grouping list) and
    bounded groupings (lang, nation, _gr_pid, band buckets) pass."""
    tree = df._jdf.queryExecution().analyzed().treeString()
    lines = tree.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line and "UnresolvedHint" not in line:
            continue
        sub = _subtree(lines, i)
        agg_lines = [l for l in sub.splitlines() if "Aggregate [" in l]
        if not agg_lines:
            continue
        top = agg_lines[0]
        start = top.index("Aggregate [") + len("Aggregate ")
        first = _balanced_list(top, start)
        rest = top[start + len(first) + 2 :]
        if not rest.lstrip().startswith(", ["):
            # single list => scalar aggregate (no grouping): 1 row, fine
            continue
        grouping = first
        hits.extend(
            k for k in _CORPUS_SCALING_GROUP_KEYS if f"{k}#" in grouping
        )
    return hits


def test_no_forced_broadcast_of_sf_scaling_tables(spark):
    """No registered TPC-H-family query may carry an explicit broadcast
    hint over a RAW customer/part/supplier relation: fixed-cardinality
    dims (nation=25, region=5) and bounded aggregates may be hinted;
    SF-scaling tables must be left to AQE's size-based dynamic join
    selection (broadcast at small SF, shuffle join when too big)."""
    family = [
        "q3_shipping_priority", "q5_region_revenue", "q7_trade_volume",
        "q8_market_share", "q9_product_profit", "q10_returned_items",
        "q13_customer_distribution", "q14_promo_revenue",
        "q18_large_volume_orders", "q19_disjunctive_filter",
        "q21_sole_returning_supplier", "q22_wealthy_inactive",
        "nation_revenue_share", "top_supplier_per_nation",
        "q11_important_stock", "q20_part_promotion_suppliers",
    ]
    offenders = {}
    for q in family:
        tree = QUERIES[q](spark, SF)._jdf.queryExecution().analyzed().treeString()
        lines = tree.splitlines()
        for i, line in enumerate(lines):
            if "ResolvedHint" not in line and "UnresolvedHint" not in line:
                continue
            sub = _subtree(lines, i)
            # an Aggregate inside the hinted subtree bounds its size by
            # the grouping cardinality — scalar/denominator frames are fine
            if "Aggregate" in sub:
                continue
            hit = [k for k in _SF_SCALING_KEYS if k in sub]
            if hit:
                offenders.setdefault(q, []).extend(hit)
    assert not offenders, f"forced broadcast of SF-scaling tables: {offenders}"


def test_no_forced_broadcast_of_corpus_scaling_aggregates(spark):
    """No registered query may force-broadcast a DERIVED frame whose
    grouping key scales with the corpus (one row per user / doc / term
    / vector): at 100x the build side OOMs instead of degrading to a
    shuffle join.  Aggregates bounded by fixed-cardinality groupings
    (lang, nation, _gr_pid) and scalar aggregates stay hintable; AQE
    still broadcasts the corpus-scaling ones while they measure small.
    This closes the hole the raw-table guard left open (r5 verdict:
    funnel per-user stage tables, tfidf vocabulary)."""
    offenders = {}
    for name, fn in QUERIES.items():
        if name in _SKIP_EXECUTING:
            continue
        hits = _hinted_scaling_aggregates(fn(spark, SF))
        if hits:
            offenders[name] = hits
    assert not offenders, f"forced broadcast of corpus-scaling aggregates: {offenders}"


def test_corpus_scaling_broadcast_detector_fires(spark):
    """Red-case self-test: the detector must flag a hinted per-user
    aggregate (the exact shape de-forced in round 6), and must NOT
    flag the same frame without the hint or a scalar hinted agg."""
    ev = load_table(spark, SF, "events")
    per_user = ev.groupBy("user_id").agg(F.min("ts").alias("mv"))
    bad = ev.join(F.broadcast(per_user), "user_id")
    assert _hinted_scaling_aggregates(bad) == ["user_id"]
    ok = ev.join(per_user, "user_id")
    assert _hinted_scaling_aggregates(ok) == []
    scalar = ev.crossJoin(F.broadcast(ev.agg(F.count("*").alias("n"))))
    assert _hinted_scaling_aggregates(scalar) == []


def test_trim_outliers_windows_run_on_histogram_not_corpus(spark):
    """Exact percentile bounds must come from the token-length
    HISTOGRAM: any SinglePartition window in the plan may only sit
    above the length-keyed aggregate (|distinct lengths| rows), never
    above a raw documents scan — the round-5 shape ranked every doc
    through one partition, which dies at 10^9 docs."""
    plan = _plan(QUERIES["trim_length_outliers"](spark, SF))
    lines = plan.splitlines()
    single_idx = [
        i
        for i, l in enumerate(lines)
        if "Exchange SinglePartition" in l and "ENSURE_REQUIREMENTS" in l
    ]
    assert single_idx, plan  # the tiny histogram window does exist
    for i in single_idx:
        sub = _subtree(lines, i)
        # the exchange input must already be aggregated by n_tokens —
        # a documents/text scan below it means the corpus is crossing
        head = sub.splitlines()[0] if sub else ""
        assert "HashAggregate" in head and "n_tokens" in head, plan


def test_incremental_dedup_exact_stage_is_anti_join(spark):
    """Exact admission = anti-join on content hash (the corpus side
    contributes only hashes; its text is never re-shuffled)."""
    from aws_pandas_etl_spark.operators.dedup import dedup_incremental
    from aws_pandas_etl_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    out = dedup_incremental(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
    )
    plan = _plan(out)
    assert "LeftAnti" in plan


def test_range_bounds_window_runs_over_sampled_frame(spark):
    """range_partition_bounds_value's global order-statistic window may
    only consume the SIZE-BOUNDED deterministic sample, never the raw
    events table: every SinglePartition exchange in the plan must sit
    above either the md5 sample filter (the 'rbounds' salt literal) or
    the 1-row count aggregate.  A regression that hoists the window
    below the filter would funnel the full table through one
    partition."""
    plan = QUERIES["range_partition_bounds_value"](
        spark, SF
    )._jdf.queryExecution().executedPlan().treeString()
    lines = plan.splitlines()
    singles = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert singles, plan  # the bounded sample does go global — by design
    for i in singles:
        sub = _subtree(lines, i)
        assert ("rbounds:" in sub) or ("count(1)" in sub and "Scan" in sub), (
            f"SinglePartition over an unsampled frame:\n{sub}"
        )


def test_no_complex_typed_output_columns(spark):
    """Driver-canonicalizability gate: the correctness driver's pandas
    canonicalization (sort_values + hash) crashes on list/map/struct
    cells ("unhashable type: list" — the round-7 inverted_index_terms
    err).  Every registered query must emit only atomic columns;
    posting lists and the like must be stringified
    (concat_ws/sort_array) or exploded.  Schema inspection is
    plan-only — nothing executes (streaming queries, which execute on
    invocation, are skipped; their sink post-aggregates are atomic by
    construction)."""
    from pyspark.sql import types as T

    offenders = {}
    for name, fn in QUERIES.items():
        if name in _SKIP_EXECUTING:
            continue
        schema = fn(spark, SF).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            )
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"driver-uncanonicalizable columns: {offenders}"


def test_filtered_ann_pushes_label_to_scan(spark):
    """Filtered vector search composes the metadata predicate with cell
    pruning: the label filter must reach the parquet scan as a pushed
    filter (at 100 TB it prunes row groups before any distance math),
    and the final ranking must be a TakeOrdered(10), not a global
    sort."""
    df = QUERIES["ann_ivf_filtered_topk"](spark, SF)
    ex = df._jdf.queryExecution().toString()
    assert "PushedFilters" in ex and "EqualTo(label,1)" in ex, ex
    assert "TakeOrderedAndProject" in _plan(df)


def test_time_decayed_scores_single_scan_no_join(spark):
    """The decay-weight lookup is a literal array element_at inside the
    projection — the plan must contain NO join (the oracle's dw VALUES
    join is expressed as codegen lookup) and exactly one events scan."""
    plan = _plan(QUERIES["time_decayed_event_type_scores"](spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_text_feature_filter_tokenizes_each_document_once_per_feature(spark):
    """A filter on the quality score and the predicted language, staged
    as projected columns first (the curation shape), must tokenize each
    document once per feature.  Predicate pushdown copies projected
    aliases into the Filter condition, so any feature that names its
    tokens more than once would re-tokenize for every mention."""
    from aws_pandas_etl_spark.operators import text

    docs = load_table(spark, SF, "documents")
    scored = text.predict_lang_staged(
        docs.withColumn("_quality", F.round(text.quality_score("text"), 4)),
        out_col="_lang",
    )
    kept = scored.filter(
        (F.col("_quality") >= 0.5) & F.col("_lang").isin("en", "de")
    ).drop("_quality", "_lang")
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    # text.tokens is the one tokenizer: split(normalize_text(...), " ")
    assert plan.count("split(") <= 2, plan


def test_package_uses_no_icu_case_mapping():
    """``lower``/``upper``/``initcap`` load the JVM's ICU case mapping
    (over a second on first use in a session); the package only ever folds
    ASCII case (``normalize_text``), so none of them appears."""
    import pathlib
    import re

    import aws_pandas_etl_spark

    root = pathlib.Path(aws_pandas_etl_spark.__file__).parent
    pat = re.compile(r"\bF\.(lower|upper|initcap)\(")
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == []


def test_normalize_text_plan_has_no_lower(spark):
    from aws_pandas_etl_spark.functions.hashing import normalize_text

    df = spark.range(1).select(F.col("id").cast("string").alias("t")).select(
        normalize_text("t").alias("n")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "translate(" in plan
    assert "lower(" not in plan


def test_normalize_text_agrees_with_python_and_duckdb_twins(spark):
    """The Spark normalizer, its Python twin (Arrow stages) and the
    DuckDB oracle's twin give the same string on non-ASCII input."""
    import duckdb

    from aws_pandas_etl_spark.functions import pytext
    from aws_pandas_etl_spark.functions.hashing import normalize_text
    from aws_pandas_etl_spark.plans.queries import _dk_norm

    texts = [
        "İstanbul",
        "STRASSE Straße",
        "ΣΊΣΥΦΟΣ",
        "\uff21\uff22\uff23 abc",  # full-width ABC
        "Cafe\u0301 e\u0300COLE",  # combining marks
        "a\u00a0B\u00a0c",  # no-break spaces
        "hi 👋 THERE 🇩🇪x",
        "",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text(F.coalesce("t", F.lit(""))).alias("n")).collect()
    }
    con = duckdb.connect()
    duck = {
        i: con.execute(f"SELECT {_dk_norm('CAST(? AS VARCHAR)')}", [t]).fetchone()[0]
        for i, t in enumerate(texts)
    }
    con.close()
    py = {i: pytext.normalized(t) for i, t in enumerate(texts)}
    assert got == duck == py
    assert got[1] == "strasse stra e" and got[2] == "" and got[4] == "cafe e cole"
    assert got[5] == "a b c" and got[7] == got[8] == ""


def test_shingling_and_bloom_decontamination_plan_no_python(spark):
    """Shingling is a JVM expression: neither the shingle table nor the
    bloom decontamination built on it starts a Python worker."""
    from aws_pandas_etl_spark.operators.dedup import (
        decontaminate_bloom,
        shingle_hash_table,
    )

    docs = load_table(spark, SF, "documents")
    for df in (
        shingle_hash_table(docs, shingle_n=8),
        decontaminate_bloom(docs, benchmark_max_id=50),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, (node, plan[:2000])
