import datetime as dt

from pyspark.sql import Row

from aws_pandas_etl_spark.plans.pipeline import TableSpec, TableResult, run, transform_table
from aws_pandas_etl_spark.sources.readers import load_table
from aws_pandas_etl_spark.sources.sinks import landing_path, write_parquet_sink

SF = "/root/testdata/sf0.001"


def test_pipeline_run_end_to_end(spark, tmp_path):
    def source(s, name):
        if name == "boom":
            raise RuntimeError("table not found")
        return load_table(s, SF, name)

    tables = {
        "events": TableSpec("events"),
        "documents": TableSpec("documents", red_schema="F"),
        "inactive": TableSpec("inactive", active_flag="F"),
        "boom": TableSpec("boom"),
    }
    results = {r.table: r for r in run(spark, tables, source, str(tmp_path / "out"))}
    assert results["events"].status == "loaded" and results["events"].rows == 1000
    assert results["documents"].status == "loaded" and results["documents"].rows == 500
    assert results["inactive"].status == "skipped"
    # per-table isolation: boom fails, the rest still loaded (ref main.py:72-76)
    assert results["boom"].status == "failed" and "not found" in results["boom"].error

    loaded = spark.read.parquet(str(tmp_path / "out" / "events"))
    for c in ("row_hash_code", "updatedby", "updated_utc_ts", "runid"):
        assert c in loaded.columns
    # run-constant timestamp: exactly one distinct stamp across all rows
    assert loaded.select("updated_utc_ts").distinct().count() == 1


def test_pipeline_all_table_types(spark, tmp_path):
    """Every harness table — including array (embeddings) and text
    (documents) payloads — survives the full transform+load path."""
    from aws_pandas_etl_spark.plans.pipeline import TableSpec, run
    tables = {t: TableSpec(t) for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )}
    results = {r.table: r for r in run(
        spark, tables, lambda s, n: load_table(s, SF, n), str(tmp_path / "out")
    )}
    assert all(r.status == "loaded" for r in results.values()), {
        t: r.error for t, r in results.items() if r.status != "loaded"
    }
    emb = spark.read.parquet(str(tmp_path / "out" / "embeddings"))
    assert emb.count() == 500 and "row_hash_code" in emb.columns
    assert emb.schema["embedding"].dataType.simpleString() == "array<float>"


def test_transform_table_no_shuffle(spark):
    """The whole parity dataflow must stay a single projection over the
    scan — no Exchange in the plan (scale guarantee)."""
    df = load_table(spark, SF, "events")
    out = transform_table(df, TableSpec("events"), dt.datetime(2026, 1, 1), 1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_landing_path_layout(tmp_path):
    ts = dt.datetime(2024, 3, 4, 5, 0, 0)
    assert landing_path("s3a://b/prefix", "tbl", ts) == "s3a://b/prefix/tbl/2024/03/04/05"


def test_partitioned_sink_prunes_on_read(spark, tmp_path):
    """Time-partitioned sink (K1's Y/m/d layout, catalog-visible):
    a date filter on read-back must prune partitions at planning time,
    not scan them."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events").withColumn("day", F.to_date("ts"))
    write_parquet_sink(ev, str(tmp_path / "p"), partition_by=["day"])
    back = spark.read.parquet(str(tmp_path / "p")).filter(F.col("day") == "2024-01-02")
    ex = back._jdf.queryExecution().toString()
    assert "PartitionFilters: [isnotnull(day" in ex
    n_days = ev.select("day").distinct().count()
    import glob
    assert len(glob.glob(str(tmp_path / "p" / "day=*"))) == n_days
    assert back.count() == ev.filter(F.col("day") == "2024-01-02").count()


def test_sink_rows_per_file(spark, tmp_path):
    df = spark.range(1000).repartition(1)
    write_parquet_sink(df, str(tmp_path / "p"), rows_per_file=300)
    import glob
    files = glob.glob(str(tmp_path / "p" / "*.parquet"))
    assert len(files) == 4  # 300+300+300+100 — maxRecordsPerFile honored


def test_append_load_accumulates(spark, tmp_path):
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import append_load

    p = str(tmp_path / "t")
    df = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    assert append_load(df, p) == 2
    assert append_load(df, p) == 2
    assert spark.read.parquet(p).count() == 4  # appends, never truncates


def test_merge_load_upserts_latest_per_key(spark, tmp_path):
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import merge_load

    p = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [Row(k=1, v="old", ver=1), Row(k=2, v="keep", ver=1)]
    )
    assert merge_load(b1, p, keys=["k"], order_col="ver") == 2
    # batch 2: update k=1 (higher ver), same-ver tie for k=2 (incoming
    # wins), and a brand-new k=3
    b2 = spark.createDataFrame(
        [Row(k=1, v="new", ver=2), Row(k=2, v="tie-incoming", ver=1),
         Row(k=3, v="ins", ver=1)]
    )
    assert merge_load(b2, p, keys=["k"], order_col="ver") == 3
    got = {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {1: "new", 2: "tie-incoming", 3: "ins"}


def test_merge_first_load_is_decided_from_the_listing(spark, tmp_path):
    """A target whose listing holds no data files (a bare directory) is
    a first load for both merges; a target holding a visible file that
    is not parquet is NOT: its read error propagates and the file stays,
    instead of the merge overwriting it with just the batch."""
    import os

    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import (
        merge_load,
        merge_load_partitioned,
        stamp_layout,
    )

    batch = spark.createDataFrame([Row(k=1, v="a", ver=1), Row(k=2, v="b", ver=1)])
    bare = tmp_path / "bare"
    bare.mkdir()
    assert merge_load(batch, str(bare), keys=["k"], order_col="ver") == 2

    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "part-0.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        merge_load(batch, str(junk), keys=["k"], order_col="ver")
    assert sorted(os.listdir(junk)) == ["part-0.parquet"]

    pjunk = tmp_path / "pjunk"
    (pjunk / "bkt=0").mkdir(parents=True)
    (pjunk / "bkt=0" / "part-0.parquet").write_bytes(b"not parquet at all")
    stamp_layout(spark, str(pjunk), keys=["k"], order_col="ver", partition_col="bkt")
    pbatch = batch.withColumn("bkt", (F.col("k") % 2).cast("int"))
    with pytest.raises(Exception):
        merge_load_partitioned(
            pbatch, str(pjunk), keys=["k"], order_col="ver", partition_col="bkt"
        )
    assert os.listdir(pjunk / "bkt=0") == ["part-0.parquet"]


def test_merge_load_tiebreak_col_resolves_in_batch_ties(spark, tmp_path):
    """Rows tied on (keys, order_col) INSIDE one batch are kept by the
    largest tiebreak_col, not partition luck."""
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import merge_load

    p = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [
            Row(k=1, v="low-id", ver=1, id=10),
            Row(k=1, v="high-id", ver=1, id=20),
            Row(k=2, v="solo", ver=1, id=5),
        ]
    ).repartition(4)
    assert merge_load(batch, p, keys=["k"], order_col="ver", tiebreak_col="id") == 2
    got = {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {1: "high-id", 2: "solo"}
    # incoming batch still beats the target on an across-batch tie even
    # when its tiebreak id is SMALLER (src precedence ranks above it)
    b2 = spark.createDataFrame([Row(k=1, v="incoming", ver=1, id=1)])
    assert merge_load(b2, p, keys=["k"], order_col="ver", tiebreak_col="id") == 2
    got = {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got[1] == "incoming"


def test_merge_load_partitioned_prunes_untouched_partitions(spark, tmp_path):
    """The partitioned merge must (a) produce the same final state as
    the flat merge, (b) physically NOT rewrite partitions whose keys
    the batch does not touch (their part-files survive byte-identical
    at the same paths), and (c) count only touched-partition rows."""
    import glob
    import os

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import (
        merge_load,
        merge_load_partitioned,
    )

    flat = str(tmp_path / "flat")
    part = str(tmp_path / "part")
    # bucket = k % 2: keys 1,3 -> bucket 1; keys 2,4 -> bucket 0
    b1 = spark.createDataFrame(
        [Row(k=1, v="a", ver=1), Row(k=2, v="b", ver=1),
         Row(k=3, v="c", ver=1), Row(k=4, v="d", ver=1)]
    ).withColumn("bkt", (F.col("k") % 2).cast("int"))
    merge_load(b1.drop("bkt"), flat, keys=["k"], order_col="ver")
    assert (
        merge_load_partitioned(
            b1, part, keys=["k"], order_col="ver", partition_col="bkt"
        )
        == 4
    )

    untouched_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(part, "bkt=0", "part-*"))
    }
    assert untouched_before

    # batch 2 touches ONLY bucket 1 (odd keys): update k=1, insert k=5
    b2 = spark.createDataFrame(
        [Row(k=1, v="a2", ver=2), Row(k=5, v="e", ver=1)]
    ).withColumn("bkt", (F.col("k") % 2).cast("int"))
    merge_load(b2.drop("bkt"), flat, keys=["k"], order_col="ver")
    n = merge_load_partitioned(
        b2, part, keys=["k"], order_col="ver", partition_col="bkt"
    )
    assert n == 3  # touched bucket 1 now holds k=1,3,5

    untouched_after = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(part, "bkt=0", "part-*"))
    }
    assert untouched_after == untouched_before  # bucket 0 never rewritten

    want = {
        (r["k"]): (r["v"], r["ver"])
        for r in spark.read.parquet(flat).collect()
    }
    got = {
        (r["k"]): (r["v"], r["ver"])
        for r in spark.read.parquet(part).drop("bkt").collect()
    }
    assert got == want == {
        1: ("a2", 2), 2: ("b", 1), 3: ("c", 1), 4: ("d", 1), 5: ("e", 1)
    }


def test_merge_load_partitioned_read_is_directory_pruned(spark, tmp_path):
    """The pruned target read must prune at the DIRECTORY level — the
    scan's input files for a touched-partition filter are only the
    touched partition's files (this is the mechanism that makes
    per-batch cost ∝ touched partitions at 100 TB, not a row filter
    over a full scan)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import merge_load_partitioned

    p = str(tmp_path / "t")
    b = spark.createDataFrame(
        [Row(k=i, v=f"v{i}", ver=1) for i in range(8)]
    ).withColumn("bkt", (F.col("k") % 4).cast("int"))
    merge_load_partitioned(b, p, keys=["k"], order_col="ver", partition_col="bkt")

    pruned = spark.read.parquet(p).filter(F.col("bkt").isin([2]))
    # the physical scan must carry the filter as a PARTITION filter
    # (directory pruning), not a data filter over a full scan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines and any("bkt" in l for l in scan_lines), plan
    assert pruned.count() == 2  # k=2 and k=6 only


def test_merge_load_partitioned_rejects_non_key_derived_partition(spark, tmp_path):
    """A key carrying two partition values in one batch proves the
    partition column is not key-derived — the pruned merge would
    silently resurrect stale rows, so it must refuse loudly."""
    import pytest
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import merge_load_partitioned

    bad = spark.createDataFrame(
        [Row(k=1, v="a", ver=1, bkt=0), Row(k=1, v="b", ver=2, bkt=1)]
    )
    with pytest.raises(ValueError, match="deterministic function"):
        merge_load_partitioned(
            bad, str(tmp_path / "t"), keys=["k"], order_col="ver",
            partition_col="bkt",
        )


def test_merge_load_partitioned_rejects_null_partition_value(spark, tmp_path):
    """NULL partition values must refuse loudly: isin-pruning can never
    match NULL, so a null partition's prior rows would be invisible to
    the pruned read yet replaced by the dynamic overwrite — silent row
    loss (r12 ADVICE).  Also covers the count_distinct blindspot: a key
    mapping to both NULL and a non-NULL value passes the per-key
    distinct guard (count_distinct ignores NULLs) but is caught here."""
    import pytest
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import merge_load_partitioned

    t = str(tmp_path / "t")
    bad = spark.createDataFrame(
        [Row(k=1, v="a", ver=1, bkt=0), Row(k=2, v="b", ver=1, bkt=None)]
    )
    with pytest.raises(ValueError, match="NULL"):
        merge_load_partitioned(bad, t, keys=["k"], order_col="ver", partition_col="bkt")
    # the blindspot shape: one key, NULL + non-NULL partition values
    bad2 = spark.createDataFrame(
        [Row(k=1, v="a", ver=1, bkt=0), Row(k=1, v="b", ver=2, bkt=None)]
    )
    with pytest.raises(ValueError, match="NULL"):
        merge_load_partitioned(bad2, t, keys=["k"], order_col="ver", partition_col="bkt")


def test_merge_load_partitioned_rejects_layout_change(spark, tmp_path):
    """A changed key→partition mapping against an existing target must
    raise instead of corrupting: with pmod(k,N) → pmod(k,N') a key's
    old copy lives in a bucket the new mapping never reads, so the
    pruned merge would silently resurrect stale rows (r12 verdict #2).
    The first write stamps _layout.json; mismatched partition_col,
    keys, order_col, or layout_spec all refuse; the matching layout
    keeps merging."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import (
        merge_load_partitioned,
        read_layout_marker,
    )

    t = str(tmp_path / "t")

    def batch(rows, buckets):
        return spark.createDataFrame(rows).withColumn(
            "bkt", (F.col("k") % buckets).cast("int")
        )

    b1 = batch([Row(k=1, v="a", ver=1), Row(k=6, v="b", ver=1)], 4)
    merge_load_partitioned(
        b1, t, keys=["k"], order_col="ver", partition_col="bkt",
        layout_spec="pmod(k,4)",
    )
    assert read_layout_marker(spark, t) == {
        "partition_col": "bkt",
        "keys": ["k"],
        "order_col": "ver",
        "layout_spec": "pmod(k,4)",
    }
    # the dangerous case: same column name, different bucket count —
    # k=6 now maps to bkt=0, its old copy sits unread in bkt=2
    b2 = batch([Row(k=6, v="b2", ver=2)], 2)
    with pytest.raises(ValueError, match="layout"):
        merge_load_partitioned(
            b2, t, keys=["k"], order_col="ver", partition_col="bkt",
            layout_spec="pmod(k,2)",
        )
    # other mismatches refuse too
    with pytest.raises(ValueError, match="layout"):
        merge_load_partitioned(
            batch([Row(k=6, v="b2", ver=2)], 4).withColumnRenamed("bkt", "bkt2"),
            t, keys=["k"], order_col="ver", partition_col="bkt2",
            layout_spec="pmod(k,4)",
        )
    with pytest.raises(ValueError, match="layout"):
        merge_load_partitioned(
            batch([Row(k=6, v="b2", ver=2)], 4),
            t, keys=["k", "v"], order_col="ver", partition_col="bkt",
            layout_spec="pmod(k,4)",
        )
    # the matching layout still merges, and the stamp survives
    n = merge_load_partitioned(
        batch([Row(k=6, v="b3", ver=3)], 4), t,
        keys=["k"], order_col="ver", partition_col="bkt",
        layout_spec="pmod(k,4)",
    )
    assert n == 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(t).collect()}
    assert got == {1: "a", 6: "b3"}
    assert read_layout_marker(spark, t)["layout_spec"] == "pmod(k,4)"


def test_merge_load_partitioned_refuses_unstamped_target_by_default(
    spark, tmp_path
):
    """A data-bearing UNSTAMPED target (marker absent) must REFUSE by
    default (r13 verdict #2): silently adopting the current spec would
    mean losing _layout.json re-enables exactly the cross-layout merge
    the stamp refuses.  The explicit migration works: the one-shot
    stamp_layout API followed by a plain merge."""
    import os

    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import (
        merge_load_partitioned,
        read_layout_marker,
        stamp_layout,
    )

    def batch(k, v, ver):
        return spark.createDataFrame([Row(k=k, v=v, ver=ver)]).withColumn(
            "bkt", (F.col("k") % 2).cast("int")
        )

    t = str(tmp_path / "t")
    merge_load_partitioned(
        batch(1, "a", 1), t, keys=["k"], order_col="ver",
        partition_col="bkt", layout_spec="pmod(k,2)",
    )
    os.remove(os.path.join(t, "_layout.json"))  # simulate a lost stamp
    # default: refuse loudly
    with pytest.raises(ValueError, match="no _layout.json stamp"):
        merge_load_partitioned(
            batch(1, "a2", 2), t, keys=["k"], order_col="ver",
            partition_col="bkt", layout_spec="pmod(k,2)",
        )
    # migrate via stamp_layout, then merge
    stamp_layout(
        spark, t, keys=["k"], order_col="ver", partition_col="bkt",
        layout_spec="pmod(k,2)",
    )
    assert merge_load_partitioned(
        batch(1, "a3", 3), t, keys=["k"], order_col="ver",
        partition_col="bkt", layout_spec="pmod(k,2)",
    ) == 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(t).collect()}
    assert got == {1: "a3"}
    # an EMPTY path is still a plain first write — no flag needed
    t2 = str(tmp_path / "t2")
    assert merge_load_partitioned(
        batch(1, "x", 1), t2, keys=["k"], order_col="ver",
        partition_col="bkt", layout_spec="pmod(k,2)",
    ) == 1


def test_merge_load_partitioned_first_write_crash_retry_heals(
    spark, tmp_path
):
    """The stamp lands BEFORE the first data write, so the two crash
    points both recover: (a) stamp written, data write crashed —
    target holds only _layout.json, which must read as an EMPTY
    existing side (UNABLE_TO_INFER_SCHEMA treated as absence) and the
    retry merge proceeds; (b) the old r13 order (data before stamp)
    would instead leave data-without-stamp, which the unstamped-target
    refusal turns into a hard error on retry — the window this
    ordering removes."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import (
        merge_load_partitioned,
        read_layout_marker,
        stamp_layout,
    )

    t = str(tmp_path / "t")
    os.makedirs(t)
    # simulate crash point (a): stamp present, no data yet
    stamp_layout(
        spark, t, keys=["k"], order_col="ver", partition_col="bkt",
        layout_spec="pmod(k,2)",
    )
    b = spark.createDataFrame([Row(k=1, v="a", ver=1)]).withColumn(
        "bkt", (F.col("k") % 2).cast("int")
    )
    assert merge_load_partitioned(
        b, t, keys=["k"], order_col="ver", partition_col="bkt",
        layout_spec="pmod(k,2)",
    ) == 1
    assert read_layout_marker(spark, t)["layout_spec"] == "pmod(k,2)"
    got = {r["k"]: r["v"] for r in spark.read.parquet(t).collect()}
    assert got == {1: "a"}


def test_merge_load_partitioned_layout_spec_declaration_upgrade(
    spark, tmp_path
):
    """A target stamped with layout_spec=None accepts a merge that
    STARTS declaring a spec (identical physical mapping — a
    declaration-only change must not demand a full rewrite, ADVICE
    r13) and upgrades the stamp; after the upgrade a DIFFERENT spec
    refuses, and dropping back to None refuses (weaker declaration)."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import (
        merge_load_partitioned,
        read_layout_marker,
    )

    def batch(k, v, ver):
        return spark.createDataFrame([Row(k=k, v=v, ver=ver)]).withColumn(
            "bkt", (F.col("k") % 2).cast("int")
        )

    t = str(tmp_path / "t")
    merge_load_partitioned(
        batch(1, "a", 1), t, keys=["k"], order_col="ver",
        partition_col="bkt",  # layout_spec=None
    )
    assert read_layout_marker(spark, t)["layout_spec"] is None
    # None -> declared: upgrade in place
    assert merge_load_partitioned(
        batch(1, "a2", 2), t, keys=["k"], order_col="ver",
        partition_col="bkt", layout_spec="pmod(k,2)",
    ) == 1
    assert read_layout_marker(spark, t)["layout_spec"] == "pmod(k,2)"
    # declared -> different declaration: refuse
    with pytest.raises(ValueError, match="layout"):
        merge_load_partitioned(
            batch(1, "a3", 3), t, keys=["k"], order_col="ver",
            partition_col="bkt", layout_spec="pmod(k,4)",
        )
    # declared -> None (caller stops declaring): refuse, not downgrade
    with pytest.raises(ValueError, match="layout"):
        merge_load_partitioned(
            batch(1, "a3", 3), t, keys=["k"], order_col="ver",
            partition_col="bkt",
        )
    got = {r["k"]: r["v"] for r in spark.read.parquet(t).collect()}
    assert got == {1: "a2"}


def test_pipeline_merge_mode(spark, tmp_path):
    from pyspark.sql import Row

    from aws_pandas_etl_spark.plans.pipeline import TableSpec, run

    batches = {
        0: [Row(id=1, name="a", ver=1), Row(id=2, name="b", ver=1)],
        1: [Row(id=2, name="b2", ver=2), Row(id=3, name="c", ver=1)],
    }
    spec = {"t": TableSpec(name="t", load_mode="merge", merge_keys=["id"], order_col="ver")}
    d = str(tmp_path)
    for i in (0, 1):
        res = run(spark, spec, lambda s, n, _i=i: s.createDataFrame(batches[_i]), d)
        assert res[0].status == "loaded"
    out = {r["id"]: r["name"] for r in spark.read.parquet(f"{d}/t").collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_overwrite_partitions_touches_only_batch_partitions(spark, tmp_path):
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import overwrite_partitions_load

    p = str(tmp_path / "t")
    day1 = spark.createDataFrame([Row(d="2024-01-01", v=1), Row(d="2024-01-02", v=2)])
    assert overwrite_partitions_load(day1, p, ["d"]) == 2
    # re-load ONLY day 2 with new data: day 1 must survive untouched
    day2 = spark.createDataFrame([Row(d="2024-01-02", v=99)])
    assert overwrite_partitions_load(day2, p, ["d"]) == 1
    # partition-column type inference reads the dir values back as dates
    got = {str(r["d"]): r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {"2024-01-01": 1, "2024-01-02": 99}


def test_unknown_load_mode_fails_table_not_overwrites(spark, tmp_path):
    from pyspark.sql import Row

    from aws_pandas_etl_spark.plans.pipeline import TableSpec, run
    from aws_pandas_etl_spark.sources.sinks import merge_load

    d = str(tmp_path)
    # seed a merged target, then run with a typo'd mode: the table must
    # FAIL, and the existing data must survive
    seed = spark.createDataFrame([Row(id=1, name="keep", ver=1)])
    merge_load(seed, f"{d}/t", keys=["id"], order_col="ver")
    spec = {"t": TableSpec(name="t", load_mode="upsert")}
    res = run(spark, spec, lambda s, n: seed, d)
    assert res[0].status == "failed" and "unknown load_mode" in res[0].error
    assert spark.read.parquet(f"{d}/t").count() == 1


def test_pipeline_run_reports_write_conflict_as_failed_table(spark, tmp_path, monkeypatch):
    """A merge table whose target gains a file between the write job and
    the commit fails with the conflict's file names; the other tables
    still load, and a retry re-reads the target and loads."""
    import os
    import shutil

    from aws_pandas_etl_spark.plans.pipeline import TableSpec, run
    from aws_pandas_etl_spark.sources import sinks

    d = str(tmp_path)
    spec = {
        "m": TableSpec("m", load_mode="merge", merge_keys=["id"], order_col="ver"),
        "o": TableSpec("o"),
        "a": TableSpec("a", load_mode="append"),
    }

    def source(s, n):
        return s.range(20).selectExpr("id", "1L AS ver")

    assert [r.status for r in run(spark, spec, source, d)] == ["loaded"] * 3
    real = sinks._footer_rows

    def land_a_file(spark_, staged):
        if os.path.basename(staged).startswith(".m._merge_tmp."):
            part = sorted(f for f in os.listdir(f"{d}/m") if f.startswith("part-"))[0]
            shutil.copy(f"{d}/m/{part}", f"{d}/m/part-landed.parquet")
        return real(spark_, staged)

    monkeypatch.setattr(sinks, "_footer_rows", land_a_file)
    res = {r.table: r for r in run(spark, spec, source, d)}
    assert res["m"].status == "failed" and "changed after this write" in res["m"].error
    assert "part-landed.parquet" in res["m"].error
    assert res["o"].status == "loaded" and res["o"].rows == 20
    assert res["a"].status == "loaded" and res["a"].rows == 20
    assert os.path.exists(f"{d}/m/part-landed.parquet")
    monkeypatch.undo()
    (retry,) = run(spark, {"m": spec["m"]}, source, d)
    assert retry.status == "loaded" and retry.rows == 20


def test_merge_load_preserves_user_src_column(spark, tmp_path):
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import merge_load

    p = str(tmp_path / "t")
    df = spark.createDataFrame([Row(k=1, _src="user-data", ver=1)])
    merge_load(df, p, keys=["k"], order_col="ver")
    back = spark.read.parquet(p)
    assert "_src" in back.columns
    assert back.first()["_src"] == "user-data"


def test_merge_load_failed_write_preserves_target(spark, tmp_path):
    """A batch whose write job fails must leave the live target intact
    (the temp-path + swap contract — the old read-union-overwrite
    destroyed the target on partial failure)."""
    import pytest
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import merge_load, overwrite_load

    p = str(tmp_path / "target")
    base = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], "k long, v long, s string")
    assert overwrite_load(base, p) == 2

    def boom(s):
        raise RuntimeError("boom")

    bad = spark.createDataFrame([(3, 30, "c")], "k long, v long, s string").withColumn(
        "s", F.udf(boom, "string")(F.col("s"))
    )
    with pytest.raises(Exception, match="boom"):
        merge_load(bad, p, ["k"], "v")
    kept = spark.read.parquet(p)
    assert kept.count() == 2 and set(kept.columns) == {"k", "v", "s"}
    # and a good merge afterwards still works (leftover tmp cleaned up)
    good = spark.createDataFrame([(2, 99, "B"), (3, 30, "c")], "k long, v long, s string")
    assert merge_load(good, p, ["k"], "v") == 3


def test_overwrite_load_failed_refresh_keeps_previous_load(spark, tmp_path):
    """A full refresh whose job fails must leave the previous load in
    place: the swap publishes only a completed write.  (Spark's own
    overwrite mode deletes the target before the job runs, leaving an
    empty directory that reads as UNABLE_TO_INFER_SCHEMA.)"""
    import pytest
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import overwrite_load

    p = str(tmp_path / "t")
    assert overwrite_load(spark.range(100), p) == 100

    def boom(i):
        if i == 50:
            raise RuntimeError("boom at row 50")
        return i

    bad = spark.range(100).select(F.udf(boom, "long")("id").alias("id"))
    with pytest.raises(Exception, match="boom at row 50"):
        overwrite_load(bad, p)
    back = spark.read.parquet(p)
    assert sorted(r["id"] for r in back.collect()) == list(range(100))


def test_overwrite_load_refuses_staged_copy_that_lost_a_file(
    spark, tmp_path, monkeypatch
):
    """The write job's own row count is checked against the footers of
    the staged files before the swap: a staged copy that lost a part
    file is never published, and the previous load stays live."""
    import glob
    import os

    import pytest

    from aws_pandas_etl_spark.sources import sinks

    p = str(tmp_path / "t")
    assert sinks.overwrite_load(spark.range(100), p) == 100
    real = sinks.write_parquet_sink

    def write_then_lose_a_file(df, path, *args, **kwargs):
        real(df, path, *args, **kwargs)
        os.remove(sorted(glob.glob(os.path.join(path, "part-*")))[0])

    monkeypatch.setattr(sinks, "write_parquet_sink", write_then_lose_a_file)
    with pytest.raises(IOError, match="write job counted 200 rows"):
        sinks.overwrite_load(spark.range(100, 300).repartition(2), p)
    monkeypatch.undo()
    back = spark.read.parquet(p)
    assert sorted(r["id"] for r in back.collect()) == list(range(100))


def test_overwrite_load_runs_one_spark_job(spark, tmp_path):
    """A full refresh costs its write job and nothing else: the loaded
    row count comes from that job and the staged footers, not from a
    read-back of the target."""
    from aws_pandas_etl_spark.sources.sinks import overwrite_load

    p = str(tmp_path / "t")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for _ in range(2):  # a first load, then a refresh of it
        first = scheduler.nextJobId()
        assert overwrite_load(spark.range(100), p) == 100
        assert scheduler.nextJobId() - first == 1


def test_merge_load_partitioned_counts_rows_on_its_checkpoint_job(spark, tmp_path):
    """The returned row count is observed on the eager checkpoint of the
    merged rows, so a partitioned merge runs its guard, checkpoint and
    write jobs and no count job of its own (a ``count()`` of the
    checkpoint was two more jobs under AQE: its shuffle map stage and
    the result)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_pandas_etl_spark.sources.sinks import merge_load_partitioned

    p = str(tmp_path / "t")
    bkt = (F.col("k") % 2).cast("int")
    first_load = spark.createDataFrame(
        [Row(k=k, v="a", ver=1) for k in range(1, 5)]
    ).withColumn("bkt", bkt)
    update = spark.createDataFrame(
        [Row(k=1, v="a2", ver=2), Row(k=5, v="e", ver=1)]
    ).withColumn("bkt", bkt)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    # the update also reads the touched partition back: one scan job more
    for batch, rows, jobs in ((first_load, 4, 6), (update, 3, 7)):
        first = scheduler.nextJobId()
        assert (
            merge_load_partitioned(batch, p, keys=["k"], order_col="ver", partition_col="bkt")
            == rows
        )
        assert scheduler.nextJobId() - first == jobs


def test_merge_load_sibling_paths_are_hidden(tmp_path):
    """Swap siblings are dot-prefixed so Spark's file index (which skips
    names starting with '.' or '_') never surfaces an in-flight tmp or
    the kept-aside copy to parent-directory glob readers."""
    from aws_pandas_etl_spark.sources.sinks import _merge_side_paths

    tmp, old = _merge_side_paths(str(tmp_path / "warehouse" / "t"))
    assert tmp.rsplit("/", 1)[1].startswith(".t._merge_tmp.")
    assert old.rsplit("/", 1)[1] == ".t._merge_old"
    # every swap stages at its own path
    assert _merge_side_paths(str(tmp_path / "warehouse" / "t"))[0] != tmp
    # relative single-segment path doesn't gain a leading slash
    tmp2, _ = _merge_side_paths("t")
    assert tmp2.startswith(".t._merge_tmp.")


def test_delete_load_scrubs_keys_and_keeps_bystanders(spark, tmp_path):
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import delete_load, overwrite_load

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=1, v="b"), Row(k=2, v="c"), Row(k=3, v="d")]
    )
    overwrite_load(df, p)
    keys = spark.createDataFrame([Row(k=1), Row(k=1), Row(k=9)])  # dup + absent
    assert delete_load(spark, p, keys, keys=["k"]) == 2
    got = sorted((r["k"], r["v"]) for r in spark.read.parquet(p).collect())
    assert got == [(2, "c"), (3, "d")]
    # deleting already-deleted keys is idempotent
    assert delete_load(spark, p, keys, keys=["k"]) == 2


def test_delete_load_missing_target_raises(spark, tmp_path):
    """A typo'd path must raise, never silently 'succeed' at executing
    a legal deletion request."""
    import pytest
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import delete_load

    keys = spark.createDataFrame([Row(k=1)])
    with pytest.raises(Exception):
        delete_load(spark, str(tmp_path / "nope"), keys, keys=["k"])


def test_idempotent_append_retry_that_loses_the_publish_race(
    spark, tmp_path, fault_fs
):
    """Two deliveries of one batch both find no ``batch-<id>`` and
    stage; the other one publishes first.  Hadoop's rename of this
    call's staging onto the now-existing directory moves it INSIDE and
    returns True, so the call must find that nested copy, delete it,
    and report the batch as not applied — one copy of the rows, no
    hidden second copy under the winner's directory."""
    import os

    from aws_pandas_etl_spark.sources.sinks import (
        idempotent_append_load,
        read_batched_target,
    )

    p = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id", "id % 2 AS v")
    dest = os.path.join(p, "batch-b1")

    def winner_publishes_first(op, args, n):
        if op == "rename" and ".batch-b1.__tmp_" in args[0].toString():
            df.coalesce(1).write.parquet(dest)
        return False

    with fault_fs(winner_publishes_first) as plan:
        assert idempotent_append_load(df, p, "b1") == (5, False)
    assert len(plan.renamed) == 1
    assert sorted(os.listdir(p)) == ["batch-b1"]
    assert not [n for n in os.listdir(dest) if n.startswith(".batch-")]
    assert read_batched_target(spark, p).count() == 5
    assert idempotent_append_load(df, p, "b1") == (5, False)


def test_idempotent_append_retry_is_noop(spark, tmp_path):
    from pyspark.sql import Row

    from aws_pandas_etl_spark.sources.sinks import (
        idempotent_append_load,
        read_batched_target,
    )

    p = str(tmp_path / "t")
    b1 = spark.createDataFrame([Row(k=1), Row(k=2)])
    b2 = spark.createDataFrame([Row(k=3)])
    assert idempotent_append_load(b1, p, "a") == (2, True)
    assert idempotent_append_load(b2, p, "b") == (3, True)
    # retry of a committed batch: no-op, even with DIFFERENT content
    weird = spark.createDataFrame([Row(k=99), Row(k=98)])
    assert idempotent_append_load(weird, p, "b") == (3, False)
    assert sorted(r["k"] for r in read_batched_target(spark, p).collect()) == [1, 2, 3]
    # a crashed half-write (leftover dot-tmp) is invisible to readers
    import os

    os.makedirs(f"{p}/.batch-c.__tmp_dead", exist_ok=True)
    with open(f"{p}/.batch-c.__tmp_dead/part-junk", "w") as f:
        f.write("not parquet")
    assert read_batched_target(spark, p).count() == 3
