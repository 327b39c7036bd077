"""Sinks.

K1 (parquet to S3 time-partitioned prefix, /root/reference/main.py:52-65
+ s3_operations.py:49-61) and K2 (Redshift TRUNCATE+COPY,
redshift_operations.py:121-167) re-expressed as Spark distributed
writes: executors write part-files directly to the object store (no
driver-funneled bytes), and the TRUNCATE+COPY full refresh becomes a
swap-published overwrite.  Its loaded row count is the COPY's own
(PG_LAST_COPY_COUNT parity, redshift_operations.py:154-155): an
``observe()`` count on the write job itself, checked against the
parquet-footer row counts of the staged files before the commit, so a
mismatch fails the load with the previous one still live.

Every sink that rewrites a whole target (``overwrite_load``,
``merge_load``, ``delete_load``, each ``compact_table`` swap) commits
through the one crash-safe ``_SwapTarget``, whose commit checks that
the target still holds the files it read (``WriteConflict`` if not),
and every Hadoop FileSystem operation resolves its filesystem through
``_hadoop_fs``.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession

# Reference chunk size: 1M rows per parquet file (rdbms_operations.py:227).
ROWS_PER_FILE = 1_000_000


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``: the one place the sinks
    resolve a Hadoop filesystem, so every metadata operation (exists,
    rename, delete, create) goes through this seam — tests wrap the
    returned ``fs`` to inject a failure at any step."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _with_count(df: DataFrame):
    """``(df', count)``: ``df'`` observes its row count on whatever job
    writes it, and ``count()`` returns that count once the job ran — no
    second job executes the upstream plan again."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), lambda: int(obs.get["n"])


def _footer_rows(spark: SparkSession, path: str) -> int:
    """Sum of the parquet-footer row counts of the data files directly
    under ``path`` (``_``/``.``-prefixed entries skipped, as Spark's
    file index skips them).  Driver-side metadata reads, one footer per
    file; no Spark job."""
    fs, jpath = _hadoop_fs(spark, path)
    parquet = spark._jvm.org.apache.parquet.hadoop
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for st in fs.listStatus(jpath):
        if st.getPath().getName().startswith(("_", ".")):
            continue
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromStatus(st, conf)
        )
        try:
            total += reader.getRecordCount()
        finally:
            reader.close()
    return total


class WriteConflict(IOError):
    """A rewriting sink's target changed between the moment the sink
    opened it and its commit: another writer added, removed or
    rewrote data files.  The live target was left as it was; re-run
    the call, which reads the target again."""


def _visible_files(fs, jpath) -> dict | None:
    """``{relative name: (length, mtime)}`` of the data files under
    ``jpath``, recursive, skipping ``_``/``.``-prefixed entries at every
    level as Spark's file index does; None when ``jpath`` is missing.
    A directory that vanishes mid-listing contributes no files.  (The
    ``exists`` probe costs one call; a failed ``listStatus`` costs tens
    of milliseconds in PySpark's Java-exception conversion.)"""
    from py4j.protocol import Py4JJavaError

    if not fs.exists(jpath):
        return None
    out, todo = {}, [(jpath, "")]
    while todo:
        jdir, rel = todo.pop()
        try:
            statuses = fs.listStatus(jdir)
        except Py4JJavaError as exc:
            if "FileNotFoundException" not in str(exc.java_exception):
                raise
            continue
        for st in statuses:
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                todo.append((st.getPath(), f"{rel}{name}/"))
            else:
                out[rel + name] = (st.getLen(), st.getModificationTime())
    return out


def _merge_side_paths(path: str) -> tuple[str, str]:
    """Dot-prefixed sibling paths for ``_SwapTarget``: a fresh staging
    path ``.<name>._merge_tmp.<token>`` and the kept-aside copy
    ``.<name>._merge_old``.  The dot prefix matters: Spark's file index
    skips paths starting with ``.`` or ``_``, so a parent-directory glob
    reader never picks up an in-flight tmp write or the kept-aside
    previous copy."""
    import uuid

    base = path.rstrip("/")
    head, _, tail = base.rpartition("/")
    prefix = f"{head}/.{tail}" if head else f".{tail}"
    return f"{prefix}._merge_tmp.{uuid.uuid4().hex[:12]}", f"{prefix}._merge_old"


def _recover(spark: SparkSession, path: str) -> None:
    """Crash recovery, every writer's first step: if a swap died
    between its two renames (live target missing, kept-aside copy
    complete), rename the copy back.  Touches nothing when the live
    target exists.  Without it, an append after such a crash would
    write a fresh directory beside the kept-aside copy, which the next
    swap would then delete."""
    _, old_path = _merge_side_paths(path)
    fs, jfinal = _hadoop_fs(spark, path)
    _, jold = _hadoop_fs(spark, old_path)
    if not fs.exists(jfinal) and fs.exists(jold):
        if not fs.rename(jold, jfinal):
            raise IOError(f"swap: crash recovery {old_path} -> {path} failed")


class _SwapTarget:
    """The one crash-safe commit for every sink that rewrites a whole
    parquet target (overwrite_load, merge_load, delete_load and each
    compact_table swap), with one rule for what may land meanwhile.

    Opening runs crash recovery (``_recover``) and records ``seen``:
    the visible data files under the target (``_visible_files``; None
    if it is missing).  Callers open the swap before they build their
    read of the target.  The caller stages the new copy at its own
    ``tmp_path`` (``.<name>._merge_tmp.<token>``).  ``commit`` lists
    the target again and, if the listing differs from ``seen``, raises
    ``WriteConflict`` naming the files, with the live target untouched
    (the validation step of optimistic concurrency control).  Otherwise
    it deletes every other ``._merge_tmp*`` sibling, then renames the
    live target ASIDE to ``old_path`` (``.<name>._merge_old``) and the
    tmp in, so no staging outlives a successful commit.  That is safe:
    a swap that opened before this commit fails its own check, and one
    whose staging is gone fails its footer check or its rename.
    ``drop_old`` deletes the kept-aside copy; ``publish`` is the whole
    sequence for a DataFrame write, and returns its row count.

    The trade: no writer waits for or is refused by a rewrite.  A file
    that lands while a merge, delete, refresh or compaction runs stays
    live, and the rewrite raises instead; its caller re-runs it.  Every
    crash point leaves the pre-call or the post-call target on disk.
    Two gaps remain.  A writer that lands between the second listing
    and the keep-aside rename is still moved aside and deleted with the
    old copy.  And rename is not atomic on object stores; production
    swaps ``commit`` for a transactional table commit (Delta/Iceberg),
    keeping the same plan."""

    def __init__(self, spark: SparkSession, path: str):
        _recover(spark, path)
        self.spark, self.path = spark, path
        self.tmp_path, self.old_path = _merge_side_paths(path)
        self.fs, self.jfinal = _hadoop_fs(spark, path)
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path
        self.jtmp, self.jold = jvm_path(self.tmp_path), jvm_path(self.old_path)
        self.seen = _visible_files(self.fs, self.jfinal)

    def commit(self) -> None:
        fs = self.fs
        now = _visible_files(fs, self.jfinal)
        if now != self.seen:
            seen, now = self.seen or {}, now or {}
            raise WriteConflict(
                f"swap: {self.path} changed after this write read it (added "
                f"{sorted(n for n in now if now[n] != seen.get(n))}, removed "
                f"{sorted(n for n in seen if seen[n] != now.get(n))}); "
                f"left as it was, re-run to read it again"
            )
        fs.delete(self.jold, True)  # stale kept-aside copy from an old success
        mine = self.jtmp.getName()
        staging = mine.rpartition(".")[0]  # .<name>._merge_tmp
        for st in fs.listStatus(self.jtmp.getParent()):
            name = st.getPath().getName()
            if name != mine and name.startswith(staging):
                fs.delete(st.getPath(), True)
        if self.seen is not None and not fs.rename(self.jfinal, self.jold):
            raise IOError(f"swap: keep-aside {self.path} -> {self.old_path} failed")
        if not fs.rename(self.jtmp, self.jfinal):
            raise IOError(f"swap: rename {self.tmp_path} -> {self.path} failed")

    def drop_old(self) -> None:
        self.fs.delete(self.jold, True)

    def publish(
        self, df: DataFrame, into: str = "", rows_per_file: int = ROWS_PER_FILE
    ) -> int:
        """Stage ``df`` (at ``tmp_path``, or its ``into`` subdirectory),
        check it, swap it in; returns the loaded row count.  The count
        rides the write job (``observe``); before the commit it must
        equal the footer row counts of the staged files, or the call
        raises with the live target untouched (the rejected copy stays
        at ``tmp_path`` until the next successful commit)."""
        staged = f"{self.tmp_path}/{into}" if into else self.tmp_path
        counted, count = _with_count(df)
        write_parquet_sink(counted, staged, mode="overwrite", rows_per_file=rows_per_file)
        written, landed = count(), _footer_rows(self.spark, staged)
        if written != landed:
            raise IOError(
                f"swap: the write job counted {written} rows but the staged "
                f"copy {staged} holds {landed}; {self.path} left as it was"
            )
        self.commit()
        self.drop_old()
        return written


def landing_path(base: str, table: str, ts: _dt.datetime | None = None) -> str:
    """Reference key layout ``{prefix}{table}/{Y/m/d/H}/`` (main.py:52-57)."""
    ts = ts or _dt.datetime.now(_dt.timezone.utc)
    return f"{base.rstrip('/')}/{table}/{ts:%Y/%m/%d/%H}"


def write_parquet_sink(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    rows_per_file: int = ROWS_PER_FILE,
) -> None:
    """K1 — distributed parquet write.

    ``maxRecordsPerFile`` echoes the reference's 1M-row chunk files at
    any scale without a repartition shuffle.  ``partition_by`` gives
    partition pruning to downstream readers (the reference's Y/m/d/H
    key prefix, but catalog-visible).
    """
    writer = df.write.mode(mode).option("maxRecordsPerFile", str(rows_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_load(df: DataFrame, path: str) -> int:
    """K2 — full-refresh load (TRUNCATE+COPY parity): replace the
    target and return the loaded row count.  Like PG_LAST_COPY_COUNT
    it is the load's own count: the write job counts its rows
    (``observe``), and the count must match the row counts in the
    staged files' parquet footers before the swap, so a copy that does
    not hold what the job wrote is never published.  One Spark job in
    all.  The load is swap-published: a failed, interrupted or
    mismatched refresh leaves the previous load in place, where Spark's
    own overwrite mode deletes the target before the job runs."""
    return _SwapTarget(df.sparkSession, path).publish(df)


def read_back(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def append_load(df: DataFrame, path: str) -> int:
    """Incremental append (beyond the reference's full-refresh-only
    surface): add this batch's rows to the target, return the batch
    row count.  The count rides the write job itself via observe() —
    a separate count() would execute the whole upstream plan twice."""
    _recover(df.sparkSession, path)
    counted, count = _with_count(df)
    write_parquet_sink(counted, path, mode="append")
    return count()


def jdbc_overwrite_load(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    truncate: bool = False,
    create_table_column_types: str | None = None,
) -> int:
    """K2 against a LIVE JDBC database — the reference's TRUNCATE+COPY
    full refresh (/root/reference/utils/redshift_operations.py:121-167)
    executed through Spark's JDBC sink instead of a driver-side COPY
    statement: every partition opens its own connection and batch-
    inserts in parallel (the distributed analogue of COPY's parallel
    slices), ``truncate=True`` keeps the table definition and issues
    TRUNCATE (the reference's exact refresh semantics; False re-creates
    the table, picking up schema changes), and the returned count is
    read BACK from the database — reconciliation counts what actually
    landed, the PG_LAST_COPY_COUNT parity read
    (redshift_operations.py:154-155), not what the writer thinks it
    sent.  Unlike PG_LAST_COPY_COUNT (same-transaction) the read-back
    is a separate post-commit statement, so the count reflects TABLE
    STATE at read time, not rows-written: a concurrent writer landing
    between save() and the read-back is included.  Single-writer
    refresh jobs (the reference's deployment) are unaffected; callers
    needing writer-isolated counts should reconcile inside the
    database's own transaction machinery.

    ``table`` is interpolated into the COUNT subquery, so it must be a
    plain (optionally schema-qualified) identifier — validated loudly;
    names needing quoting should be passed pre-quoted by the caller
    with their database's quote character.

    Scale shape: the write is numPartitions-parallel with batchsize-d
    inserts; nothing funnels through the driver.  The read-back count
    pushes COUNT(*) aggregation to the database (one row returns)."""
    import re

    # permit bare/qualified identifiers and caller-prequoted parts;
    # refuse anything that could smuggle SQL into the subquery
    if not re.fullmatch(r'[A-Za-z0-9_."`]+', table):
        raise ValueError(
            f"jdbc_overwrite_load: table {table!r} is not a plain "
            f"identifier; pre-quote exotic names with the database's "
            f"quote character"
        )
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .mode("overwrite")
    )
    if truncate:
        writer = writer.option("truncate", "true")
    if create_table_column_types:
        writer = writer.option(
            "createTableColumnTypes", create_table_column_types
        )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
    spark = df.sparkSession
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        # push COUNT(*) into the database: ship 1 row, not the table
        .option("dbtable", f"(SELECT COUNT(*) AS n FROM {table}) t")
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    # positional access: case-folding of the alias differs per database
    # (Derby uppercases unquoted identifiers)
    return int(reader.load().collect()[0][0])


def delete_load(spark: SparkSession, path: str, keys_df: DataFrame, keys: list[str]) -> int:
    """GDPR-style hard delete: remove every row of the live parquet
    target whose key tuple appears in ``keys_df`` — the
    right-to-be-forgotten / bad-batch-retraction operation every
    long-lived landing zone eventually needs (the reference can only
    TRUNCATE).  One LEFT ANTI join against the distinct key set, then
    the same crash-safe sibling swap as merge_load; deleting from a
    missing target is an error, not a no-op (a typo'd path silently
    "succeeding" would mask an unexecuted legal request).  Returns the
    surviving row count, counted by the rewrite job and checked against
    the staged footers like ``overwrite_load``'s.

    Scale shape: the anti join shuffles on the keys (AQE broadcasts
    the key set while it measures small — a deletion list usually is);
    the rewrite cost is the price of immutable files, amortized by
    batching requests — production on Delta/Iceberg swaps the publish
    for DELETE WHERE with the identical anti-join plan."""
    swap = _SwapTarget(spark, path)
    if swap.seen is None:
        raise IOError(f"delete_load: target {path} does not exist")
    remaining = spark.read.parquet(path).join(
        keys_df.select(*keys).distinct(), keys, "left_anti"
    )
    return swap.publish(remaining)


def merge_load(
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
) -> int:
    """Incremental upsert (CDC compaction): union the incoming batch
    with the existing target and keep the latest row per key
    (``order_col`` descending, ties to the incoming batch, then to the
    largest ``tiebreak_col`` when given — without one, rows tied on
    (keys, order_col) INSIDE a single batch are kept arbitrarily, so
    callers with possible in-batch ties should always pass it).
    Returns the target row count after the merge, counted by the
    rewrite job and checked against the staged footers like
    ``overwrite_load``'s.

    Without a transactional table format the merged result is written
    to a hidden temp sibling and swapped in by ``_SwapTarget`` (live
    target renamed aside, tmp renamed in, old copy dropped): the full
    distributed write never touches the live target, so a failed write
    leaves it untouched, and a crash between the two renames leaves
    the ``._merge_old`` copy, which the next run restores before
    merging.  No localCheckpoint is needed: the target is only read,
    not overwritten, during the write.  Production swaps the commit
    for Delta/Iceberg MERGE INTO, keeping the identical dedup plan.
    The compaction is one shuffle on the merge keys.  A target whose
    listing holds no data files (missing, or a bare directory) is a
    first load."""
    swap = _SwapTarget(df.sparkSession, path)
    existing = df.sparkSession.read.parquet(path) if swap.seen else None
    return swap.publish(_latest_per_key(df, existing, keys, order_col, tiebreak_col))


def _latest_per_key(
    df: DataFrame,
    existing: DataFrame | None,
    keys: list[str],
    order_col: str,
    tiebreak_col: str | None,
) -> DataFrame:
    """The merge core shared by ``merge_load`` and
    ``merge_load_partitioned``: union ``df`` with ``existing`` (the
    target's rows, None on a first load — the callers decide from the
    target's listing, so a visible file that fails to read propagates
    instead of passing for absence) and keep one row per key —
    ``order_col`` descending, ties to the incoming batch, then to the
    largest ``tiebreak_col``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # helper columns must not collide with user columns — pick names
    # that are guaranteed absent (a "_src" column in the data would
    # otherwise be clobbered and then dropped)
    src_col, rn_col = "_merge_src", "_merge_rn"
    while src_col in df.columns:
        src_col = "_" + src_col
    while rn_col in df.columns:
        rn_col = "_" + rn_col
    incoming = df.withColumn(src_col, F.lit(1))
    allrows = (
        incoming
        if existing is None
        else existing.withColumn(src_col, F.lit(0)).unionByName(incoming)
    )
    order = [F.col(order_col).desc(), F.col(src_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        allrows.withColumn(rn_col, F.row_number().over(w))
        .filter(F.col(rn_col) == 1)
        .drop(rn_col, src_col)
    )


_LAYOUT_MARKER = "_layout.json"


def _layout_marker_path(spark: SparkSession, path: str):
    return _hadoop_fs(spark, path.rstrip("/") + "/" + _LAYOUT_MARKER)


def read_layout_marker(spark: SparkSession, path: str) -> dict | None:
    """Read the ``_layout.json`` stamp of a ``merge_load_partitioned``
    target (None if absent — pre-stamp target or first write).  The
    leading underscore makes Spark's parquet reader skip the file, so
    the stamp rides inside the target directory itself and travels
    with copies/renames of the target."""
    import json

    fs, jpath = _layout_marker_path(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        # commons-io rides on Spark's classpath; a py4j bytearray read
        # would NOT round-trip (Java-side writes into a passed byte[]
        # never propagate back to Python)
        return json.loads(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def _layout(
    keys: list[str], order_col: str, partition_col: str, layout_spec: str | None
) -> dict:
    """The ``_layout.json`` stamp of a ``merge_load_partitioned`` target."""
    return {
        "partition_col": partition_col,
        "keys": sorted(keys),
        "order_col": order_col,
        "layout_spec": layout_spec,
    }


def _write_layout_marker(spark: SparkSession, path: str, spec: dict) -> None:
    import json

    fs, jpath = _layout_marker_path(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(json.dumps(spec, sort_keys=True).encode("utf-8"))
    finally:
        stream.close()


def stamp_layout(
    spark: SparkSession,
    path: str,
    keys: list[str],
    order_col: str,
    partition_col: str,
    layout_spec: str | None = None,
) -> dict:
    """One-shot migration/re-stamp API for ``merge_load_partitioned``
    targets: write (or overwrite) the ``_layout.json`` stamp with the
    given spec.  Two legitimate uses, both explicit caller decisions:

    1. adopting a genuine pre-stamp target (data written before the
       stamp existed, or a copy that dropped underscore-hidden files)
       whose key→partition mapping the caller KNOWS matches ``spec``;
    2. a declaration-only change — e.g. a caller starts passing
       ``layout_spec`` against a target stamped without one, or
       reformats the spec string for the IDENTICAL physical mapping —
       where the whole-dict equality check would otherwise demand a
       full rewrite.

    This deliberately does NOT verify the data against the spec (the
    old mapping is unrecoverable from data alone — that's why the
    stamp exists); it is the loud, auditable escape hatch that
    replaces the old silent grandfathering.  Returns the stamped
    spec."""
    layout = _layout(keys, order_col, partition_col, layout_spec)
    _write_layout_marker(spark, path, layout)
    return layout


def merge_load_partitioned(
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    partition_col: str,
    tiebreak_col: str | None = None,
    layout_spec: str | None = None,
) -> int:
    """Partition-pruned incremental upsert — ``merge_load`` for targets
    that matter at 100 TB: the flat merge reads and REWRITES the whole
    target every batch (cost ∝ target size), so a micro-batch CDC
    apply degenerates to a full-table rewrite per trigger.  This
    version touches only the partitions whose keys appear in the
    batch:

    1. collect the batch's distinct ``partition_col`` values (bounded
       by partitions-touched-per-batch — the quantity a CDC feed keeps
       small by construction; NOT corpus-scaling),
    2. read the target pruned to those partitions (`isin` on the
       partition column ⇒ directory-level partition pruning — the
       untouched 99% of the table is never opened),
    3. same latest-row-per-key compaction as ``merge_load``,
    4. write back with dynamic partition overwrite — only the touched
       partitions are replaced; every other partition's files are not
       rewritten, moved, or read.

    CONTRACT: ``partition_col`` must be a deterministic, NON-NULL
    function of the merge ``keys`` (e.g. a key hash-bucket or the
    key's date) and be present in ``df`` — otherwise a key could live
    in two partitions and the pruned merge would miss its older copy.
    NULL partition values are rejected loudly: ``isin(touched)`` can
    never match NULL (three-valued logic), so rows in a null partition
    would be invisible to the pruned read yet still overwritten by the
    dynamic-partition commit — a silent row-loss mode, converted here
    into an error.  Per-batch cost is ∝ touched-partition bytes, not
    target bytes (measured: BASELINE.md r12 "CDC merge
    partition-pruning economics", docs/merge_probe_r12.json).

    LAYOUT STAMP: the per-batch guard proves the CONTRACT for each
    batch, and induction extends it to the target — but the induction
    breaks if the key→partition mapping itself CHANGES between runs
    (e.g. ``pmod(key, 32)`` becomes ``pmod(key, 16)``: a key's old
    copy lives in a bucket the new mapping never reads, and the merge
    silently resurrects stale rows).  The first write therefore stamps
    ``_layout.json`` (partition_col, sorted keys, order_col, and the
    caller's ``layout_spec`` — a free-form description of HOW
    partition_col derives from the keys, e.g. ``"pmod(user_id,32)"``)
    into the target directory; every later merge refuses loudly on any
    mismatch.  Callers that compute the partition column from a
    parameter (bucket count, date granularity) should always pass
    ``layout_spec`` — without it only the column/key NAMES are pinned
    and a re-bucketing under the same column name is undetectable.
    A data-bearing UNSTAMPED target (marker absent but data present)
    is REFUSED by default: silently adopting the current spec would
    mean that losing ``_layout.json`` (a copy that drops
    underscore-hidden files, a cleanup job) re-enables exactly the
    cross-layout merge the stamp exists to refuse.  Genuine pre-stamp
    targets migrate explicitly with the one-shot
    ``stamp_layout(path, ...)`` API.  A declaration-only upgrade
    (target stamped with ``layout_spec=None``, caller now declares
    one, everything else identical) proceeds and re-stamps with the
    declared spec — no physical mapping changed.

    The merged touched-partition rows are localCheckpointed before the
    write (bounded by touched-partition size) — that breaks the
    read-the-path-being-overwritten cycle without the flat merge's
    whole-target tmp+rename swap.  Dynamic partition overwrite commits
    per job, not transactionally across partitions; production swaps
    in Delta/Iceberg MERGE INTO for the commit, keeping this identical
    pruned plan.  Returns the post-merge row count of the TOUCHED
    partitions (the untouched remainder was provably not modified)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    _recover(spark, path)
    has_data = bool(_visible_files(*_hadoop_fs(spark, path)))
    # layout stamp: refuse a target whose recorded key→partition layout
    # differs from this call's — the silent-resurrection mode the
    # per-batch guard's induction can't see (see docstring).
    layout = _layout(keys, order_col, partition_col, layout_spec)
    stamped = read_layout_marker(spark, path)
    if stamped is None:
        # marker absent: only an EMPTY target is a first write.  A
        # data-bearing unstamped target is refused — silent adoption
        # would mean losing _layout.json re-enables the exact
        # cross-layout merge the stamp refuses.
        if has_data:
            raise ValueError(
                f"merge_load_partitioned: target {path!r} holds data but "
                f"no {_LAYOUT_MARKER} stamp — its key→partition mapping is "
                f"unknown, so merging could silently resurrect stale rows "
                f"under a changed layout. If this is a genuine pre-stamp "
                f"target whose mapping you KNOW matches this merge's, run "
                f"stamp_layout(path, ...) once; otherwise rewrite the "
                f"target under the declared layout."
            )
    elif stamped != layout:
        upgrade = dict(stamped, layout_spec=layout_spec)
        if stamped.get("layout_spec") is None and upgrade == layout:
            # declaration-only upgrade: identical physical mapping, the
            # caller merely STARTED declaring layout_spec — proceed and
            # re-stamp with the richer spec after the write
            stamped = None
        else:
            raise ValueError(
                f"merge_load_partitioned: target {path!r} was written with "
                f"layout {stamped!r} but this merge declares {layout!r} — a "
                f"changed key→partition mapping would make the pruned read "
                f"miss keys' old copies and silently resurrect stale rows. "
                f"Rewrite the target under the new layout (full merge_load "
                f"+ re-stamp), or for a declaration-only change re-stamp "
                f"via stamp_layout(path, ...)."
            )
    # contract guard + touched-partition set + NULL rejection, folded
    # into ONE job (r12 ran guard and touched as two separate actions
    # — two scans of the un-materialized micro-batch source — per
    # trigger): per key, min(partition) != max(partition) proves
    # partition_col is NOT a function of the keys (the pruned read
    # would miss that key's copy in the unread partition); the per-key
    # null flag catches NULL partition values (min/max ignore NULLs,
    # so nulls need their own channel); and because every valid key
    # carries exactly ONE partition value, collect_set of the per-key
    # min IS the batch's touched set.  Both aggregates are bounded:
    # one row per batch key, then one row total.  (The target side is
    # covered by induction: every prior merge enforced the same check
    # on its batch, and the layout stamp pins the mapping across runs.)
    stats = (
        df.groupBy(*keys)
        .agg(
            # two distinct values per key ⟺ min != max — cheaper than a
            # per-key count_distinct (no per-key hash set); min/max
            # ignore NULLs, so nulls get their own channel, and an
            # all-null key yields NULL != NULL -> NULL, which max()
            # ignores (the null channel still raises)
            F.min(F.col(partition_col)).alias("_mn"),
            F.max(F.col(partition_col)).alias("_mx"),
            F.max(F.col(partition_col).isNull()).alias("_kn"),
        )
        .agg(
            F.max(F.col("_mn") != F.col("_mx")).alias("_viol"),
            F.max("_kn").alias("_any_null"),
            F.collect_set("_mn").alias("_touched"),
        )
        .collect()[0]
    )
    if stats["_any_null"]:
        bad = (
            df.filter(F.col(partition_col).isNull())
            .select(*keys)
            .limit(1)
            .collect()
        )
        raise ValueError(
            f"merge_load_partitioned: key "
            f"{tuple(bad[0][k] for k in keys) if bad else '?'} carries a "
            f"NULL {partition_col!r} — isin-pruning can never read a null "
            f"partition back, so its prior rows would be silently lost on "
            f"overwrite; make partition_col a non-null function of the keys"
        )
    if stats["_viol"]:
        # error path only: re-derive WHICH key violated (cost is fine
        # here; the happy path stays one job)
        viol = (
            df.groupBy(*keys)
            .agg(F.count_distinct(F.col(partition_col)).alias("_np"))
            .filter(F.col("_np") > 1)
            .limit(1)
            .collect()
        )
        raise ValueError(
            f"merge_load_partitioned: key {tuple(viol[0][k] for k in keys)!r} "
            f"maps to {viol[0]['_np']} distinct {partition_col!r} values in "
            f"this batch — partition_col must be a deterministic function "
            f"of the merge keys"
        )
    touched = list(stats["_touched"])
    if not touched:
        return 0
    existing = (
        spark.read.parquet(path).filter(F.col(partition_col).isin(touched))
        if has_data
        else None
    )
    # the row count rides the eager checkpoint's own job
    merged, count = _with_count(_latest_per_key(df, existing, keys, order_col, tiebreak_col))
    merged = merged.localCheckpoint(eager=True)
    if stamped is None:
        # first write or a declaration-only layout_spec upgrade: pin
        # the layout BEFORE the data write.  The other order (r13) left
        # a crash window — data landed, stamp pending — that the
        # unstamped-target refusal above would turn into a hard error
        # on the retry; a stamp-without-data crash instead lists no
        # data files, so the retry is a first load and heals it.
        _write_layout_marker(spark, path, layout)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return count()


def _layout_subdirs(fs, jpath) -> tuple[list, list]:
    """``(partition_dirs, batch_dirs)``: the Hive-style ``col=value``
    child directories of ``jpath`` (the marker of a partitioned target)
    and its ``batch-<id>`` ones (the marker of an
    ``idempotent_append_load`` target), hidden entries excluded."""
    parts, batches = [], []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not st.isDirectory() or name.startswith((".", "_")):
            continue
        if "=" in name:
            parts.append(st.getPath())
        if name.startswith("batch-"):
            batches.append(st.getPath())
    return parts, batches


def _partition_leaves(spark: SparkSession, path: str) -> list[str]:
    """The leaf directories of a Hive-partitioned target (``path``
    itself when it has no ``col=value`` children), descending multi-
    level partitioning.  A leaf whose compaction swap died between its
    two renames exists only as its hidden ``.<leaf>._merge_old`` copy,
    which the listing skips, so each level first restores such
    children (``_recover``); otherwise their rows would stay
    invisible."""
    fs, jpath = _hadoop_fs(spark, path)
    base = path.rstrip("/")
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(".") and name.endswith("._merge_old") and "=" in name:
            _recover(spark, f"{base}/{name[1:-len('._merge_old')]}")
    subs, _ = _layout_subdirs(fs, jpath)
    if not subs:
        return [path]
    return [leaf for sub in subs for leaf in _partition_leaves(spark, sub.toString())]


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 512,
    parallelism: int = 4,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet target into
    ``ceil(bytes / target_file_mb)`` files.

    Every incremental pattern (append_load batches, streaming sinks,
    dynamic partition re-loads) accretes small files, and at 100 TB
    the resulting per-file open/footer overhead dominates scans long
    before data volume does.  The rewrite is one job per compacted
    directory: scan the files the swap's opening listing saw (its
    ``seen``, the one snapshot), round-robin ``repartition`` to the
    target file count, and ``publish`` through ``_SwapTarget`` (the
    same crash-safe, conflict-checked keep-aside swap as every
    rewriting sink, so a failed compaction never damages the live
    target).  Writers are never blocked: if one lands while the rewrite
    runs, the commit raises ``WriteConflict``, the landed rows stay
    live, and the caller re-runs the compaction.

    PARTITIONED targets (Hive-style ``col=value`` subdirectories) are
    compacted PER LEAF PARTITION, preserving the layout: each leaf
    directory gets its own size-targeted rewrite with its own hidden
    swap siblings (dot-prefixed, so a concurrent reader of the parent
    never sees in-flight tmp files).  Earlier versions globbed
    ``part-*`` at the top level only — a partitioned target reported
    "already compact" (0, 0) while holding thousands of small files
    per partition.  A target that MIXES top-level part-files with
    partition subdirectories is refused loudly: a flat rewrite would
    flatten the partition layout, and no consistent reading of such a
    target exists.  Returns total (files_before, files_after).

    Leaf partitions compact CONCURRENTLY (``parallelism`` driver
    threads, each submitting independent Spark jobs against the shared
    scheduler — the standard multi-job pattern): a 100 TB table has
    thousands of partitions, and one-job-at-a-time leaves the cluster
    idle between tiny per-partition rewrites.  Each leaf keeps its own
    crash-safe hidden-sibling swap, so concurrency never widens the
    blast radius of a failure past that leaf.  Writers open only the
    root, so a leaf left aside between its two renames is restored by
    the next ``compact_table``, before it lists the layout.

    BATCHED targets (``idempotent_append_load``'s ``batch-<id>``
    subdirectories) are compacted manifest-aware: the snapshot batch
    dirs merge into one size-targeted ``batch-compacted-<uuid>`` dir,
    and every superseded batch id keeps a TOMBSTONE directory (holding
    a durable ``_compacted_into_*`` marker file — empty dirs don't
    survive object stores), so redelivery of a compacted batch id is
    STILL a no-op: the idempotence contract survives compaction.
    Earlier versions silently reported a batched target "already
    compact" (0, 0) — batch dirs carry no ``=`` so the partition walk
    skipped them and the top-level ``part-*`` glob saw nothing.
    """
    import math
    import uuid as _uuid

    # opening the root swap restores a copy a previous compaction left
    # aside between its two renames and lists the snapshot
    root = _SwapTarget(spark, path)
    if root.seen is None:
        raise IOError(f"compact_table: target {path!r} does not exist")
    fs, jfinal = root.fs, root.jfinal
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path

    def _n_out(snapshot: dict) -> int:
        total = sum(size for size, _ in snapshot.values())
        return max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))

    def _scan(swap: _SwapTarget, snapshot: dict, n_out: int) -> DataFrame:
        # the snapshot's files, named explicitly, never the directory
        base = swap.path.rstrip("/")
        return spark.read.parquet(*[f"{base}/{n}" for n in snapshot]).repartition(n_out)

    def _compact_flat(swap: _SwapTarget) -> tuple[int, int]:
        snapshot = {n: v for n, v in (swap.seen or {}).items() if "/" not in n}
        n_out = _n_out(snapshot)
        if len(snapshot) <= n_out:  # already compact: no rewrite
            swap.drop_old()  # superseded copy of a swap that died after commit
            return len(snapshot), len(snapshot)
        swap.publish(_scan(swap, snapshot, n_out), rows_per_file=0)
        return len(snapshot), len(_visible_files(fs, swap.jfinal) or {})

    def _compact_batched() -> tuple[int, int]:
        snapshot = {n: v for n, v in root.seen.items() if n.startswith("batch-")}
        n_out = _n_out(snapshot)
        if len(snapshot) <= n_out:
            root.drop_old()
            return len(snapshot), len(snapshot)
        compact_name = f"batch-compacted-{_uuid.uuid4().hex[:12]}"
        # tombstones: every superseded batch id keeps its directory so
        # idempotent_append_load's exists() check still sees it applied
        for d in batch_dirs:
            tomb = f"{root.tmp_path}/{d.getName()}"
            fs.mkdirs(jvm_path(tomb))
            fs.create(jvm_path(f"{tomb}/_compacted_into_{compact_name}"), True).close()
        root.publish(_scan(root, snapshot, n_out), into=compact_name, rows_per_file=0)
        after = fs.globStatus(jvm_path(path.rstrip("/") + "/batch-*/part-*"))
        return len(snapshot), 0 if after is None else len(after)

    # restores partition leaves a crashed compaction left aside, before
    # anything below lists the layout
    leaves = _partition_leaves(spark, path)
    part_dirs, batch_dirs = _layout_subdirs(fs, jfinal)
    kinds = {
        "top-level part-files": sum("/" not in n for n in root.seen),
        "col=value partition subdirectories": len(part_dirs),
        "batch-<id> subdirectories": len(batch_dirs),
    }
    present = [k for k, v in kinds.items() if v]
    if len(present) > 1:
        raise ValueError(
            f"compact_table: target {path!r} mixes "
            + " with ".join(f"{kinds[k]} {k}" for k in present)
            + " — no single rewrite preserves both layouts; repair the "
            "target layout first"
        )
    if batch_dirs:
        return _compact_batched()
    if not part_dirs:
        return _compact_flat(root)
    from concurrent.futures import ThreadPoolExecutor

    def _compact_leaf(leaf: str) -> tuple[int, int]:
        return _compact_flat(_SwapTarget(spark, leaf))

    workers = max(1, min(parallelism, len(leaves)))
    if workers == 1:
        results = [_compact_leaf(leaf) for leaf in leaves]
    else:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            results = list(pool.map(_compact_leaf, leaves))
    return sum(b for b, _ in results), sum(a for _, a in results)


def overwrite_partitions_load(
    df: DataFrame, path: str, partition_by: list[str]
) -> int:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in this batch, leave every other partition untouched — the
    incremental pattern that matters at 100 TB (a daily batch rewrites
    one date partition, not the table).  Uses Spark's
    ``partitionOverwriteMode=dynamic`` scoped to this write.  Returns
    the batch row count (via observe — no second plan execution).

    The mode is set as a PER-WRITE option, not a session conf: a
    session-global set/restore races with concurrent writers on the
    same SparkSession (another thread restoring "static" mid-flight
    would make this overwrite delete EVERY partition)."""
    _recover(df.sparkSession, path)
    counted, count = _with_count(df)
    (
        counted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", str(ROWS_PER_FILE))
        .partitionBy(*partition_by)
        .parquet(path)
    )
    return count()


def idempotent_append_load(df: DataFrame, path: str, batch_id: str) -> tuple[int, bool]:
    """Exactly-once append under retries: each batch lands as its own
    subdirectory ``batch-<id>`` published by atomic tmp-dir rename, so
    a RETRY of an already-committed batch is a no-op instead of a
    duplicate — the at-least-once-delivery reality of every queue/
    scheduler, solved with a directory-per-batch manifest (the pattern
    foreachBatch sinks use with batchId; Delta/Iceberg replace the
    rename with a txn-log commit carrying the same id).  A write job
    that fails deletes its tmp before the error propagates; a crash
    mid-write leaves only a dot-prefixed tmp (invisible to readers —
    Spark's listing skips '.'/'_' paths) that the winner's publish or
    the next retry ignores; a retry that loses the publish race to a
    concurrent one deletes its staged copy and reports not applied.
    Read the target back with
    ``read_batched_target`` (recursive lookup).  Returns (total rows
    now live, whether THIS call applied the batch)."""
    import uuid as _uuid

    spark = df.sparkSession
    _recover(spark, path)
    dest = path.rstrip("/") + f"/batch-{batch_id}"
    fs, jdest = _hadoop_fs(spark, dest)
    applied = False
    if not fs.exists(jdest):
        staging = f".batch-{batch_id}.__tmp_{_uuid.uuid4().hex[:8]}"
        tmp = path.rstrip("/") + "/" + staging
        _, jtmp = _hadoop_fs(spark, tmp)
        _, jnested = _hadoop_fs(spark, dest + "/" + staging)
        try:
            write_parquet_sink(df, tmp, mode="overwrite")
        except BaseException:
            fs.delete(jtmp, True)  # a retry stages under a new name
            raise
        # Hadoop's rename onto an EXISTING directory moves the source
        # into it and returns True, so a retry that lost the race after
        # its exists() check shows up as the staging dir nested in the
        # winner's batch, not as a False
        if not fs.rename(jtmp, jdest):
            fs.delete(jtmp, True)
            if not fs.exists(jdest):
                raise IOError(f"idempotent append: publish {dest} failed")
        elif fs.exists(jnested):  # lost the race — the winner's commit stands
            fs.delete(jnested, True)
        else:
            applied = True
    total = read_batched_target(spark, path).count()
    return total, applied


def read_batched_target(spark: SparkSession, path: str) -> DataFrame:
    """Read a batch-per-subdirectory target (idempotent_append_load's
    layout): recursive lookup, no partition-column inference."""
    return spark.read.option("recursiveFileLookup", "true").parquet(path)
