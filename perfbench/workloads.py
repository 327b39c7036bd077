"""The benchmark workloads.

Each workload is a closed loop: one client calls the package's public
functions, and sends the next call only after the previous one has
returned.  A workload object provides

* ``generate()`` — seeded inputs (untimed, before set-up);
* ``setup(spark)`` — work done once per session, before the first
  operation;
* ``run_pass(spark, tr)`` — one pass; returns the steal-adjusted
  latency in seconds (``probes.StealClock``) of every operation in it
  and the number of failed operations;
* ``check(spark)`` — output checks against DuckDB recomputations
  (untimed); returns (checks attempted, mismatch messages);
* ``layer`` — per-layer figures gathered by traced passes.

Set-up, checks and the traced pass live here; the timing loop, the
session and the metric report live in ``run.py``.
"""

from __future__ import annotations

import datetime as _dt
import glob
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

import duckdb
from pyspark.sql import functions as F

import datagen
import probes
from aws_pandas_etl_spark.artifacts import artifact_root
from aws_pandas_etl_spark.operators import dedup, text
from aws_pandas_etl_spark.plans import pipeline
from aws_pandas_etl_spark.plans import queries as Q
from aws_pandas_etl_spark.sources import readers, sinks
from aws_pandas_etl_spark.streaming import events_stream

sys.path.insert(0, os.path.join(os.path.dirname(datagen.HERE), "tools"))
from oracle_sweep import _canon  # noqa: E402  (the oracle sweep's row canon)

TABLES = readers.TABLES


def _duck_views(con, data_dir: str, names=TABLES) -> None:
    for t in names:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )


def _log(workload: str, op: str, exc: BaseException) -> None:
    print(f"# {workload}/{op}: {type(exc).__name__}: {exc}"[:2000], file=sys.stderr)


def _parquet_glob(path: str) -> str:
    return f"{path}/*.parquet" if os.path.isdir(path) else path


class Workload:
    name = ""
    # Timed passes per run, the first one cold (class loading, JIT, code
    # generation, Python worker start-up are paid in it): a fixed count,
    # so that a faster program never changes the mix of cold and warm.
    PASSES = 1

    def __init__(self, seed: int, smoke: bool, work: str):
        self.seed = seed
        self.smoke = smoke
        self.work = work
        self.data = datagen.harness_dir(smoke)
        self.layer: dict[str, float] = defaultdict(float)
        self.traced_passes = 0
        self.pass_no = 0

    def generate(self) -> None:
        """Seeded inputs (untimed, before set-up)."""

    def setup(self, spark) -> None:
        """Work done once per session, before the first operation."""

    def run_pass(self, spark, tr) -> tuple[list[float], int]:
        raise NotImplementedError

    def check(self, spark) -> tuple[int, list[str]]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# history_load
# ---------------------------------------------------------------------------

QUALITY_MIN = 0.5
KEEP_LANGS = ("en", "unk")
NEAR_THRESHOLD = 0.5  # the registry's dedup dial (queries._minhash_pairs)
FLAG_MIN_NGRAMS = 4


def _text_survivors(con) -> set[int]:
    """Ids the text stage keeps, by the registry's DuckDB oracles of
    ``quality_score`` and ``predict_lang`` over the view ``documents``."""
    langs = ", ".join(f"'{x}'" for x in KEEP_LANGS)
    return {r[0] for r in con.execute(
        f"SELECT q.doc_id FROM ({Q.ORACLES['quality_score_documents']}) q "
        f"JOIN ({Q.ORACLES['lang_id_heuristic']}) l USING (doc_id) "
        f"WHERE q.quality >= {QUALITY_MIN} AND l.pred_lang IN ({langs})"
    ).fetchall()}


def _components(pairs) -> dict[int, int]:
    """Connected components of a pair list: node -> smallest node id
    reachable from it (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class HistoryLoad(Workload):
    """The nightly batch job, timed cold in one pass.

    * HistoryLoad: ``pipeline.run`` full-refreshes all ten tables (scan
      -> casts/audit/row hash -> parquet overwrite with read-back
      count), then ``sinks.append_load`` appends a seeded 10 % slice of
      ``events`` and ``lineitem``.
    * CDC apply: ``run_foreach_batch_merge`` streams the events slice as
      time-ordered micro-batches, each upserted into a fresh target by
      ``sinks.merge_load``.
    * Curation of a seeded 4x near-duplicate expansion of ``documents``:
      quality/language filter -> exact dedup -> stage write; MinHash ->
      LSH candidate pairs -> exact Jaccard -> connected components ->
      bloom decontamination -> survivors written.  It runs in an empty
      artifact root, so it bypasses the artifact cache.

    One operation is one table load, one append, one micro-batch
    trigger, or one of the two curation writes."""

    name = "history_load"
    APPENDED = ("events", "lineitem")
    SPLITS = 2
    # curation base documents that get three edited copies each
    N_BASE = 150

    def generate(self) -> None:
        self.slices = os.path.join(self.work, "slices")
        datagen.write_append_slices(self.data, self.slices, self.seed, self.APPENDED)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data, f"{t}.parquet")) for t in TABLES
        )
        self.target = os.path.join(self.work, "target")
        con = duckdb.connect()
        _duck_views(con, self.data, ["documents"])
        eligible = sorted(i for i in _text_survivors(con) if i >= Q.DECON_BENCH_MAX_ID)
        con.close()
        self.corpus = os.path.join(self.work, "corpus")
        self.truth = datagen.write_curation_corpus(
            self.data, self.corpus, self.seed, Q.DECON_BENCH_MAX_ID, eligible,
            n_base=40 if self.smoke else self.N_BASE,
        )
        self.stage = os.path.join(self.work, "stage")
        self.curated = os.path.join(self.work, "curated")
        self.listener = None

    def setup(self, spark) -> None:
        self.specs = {
            t: pipeline.infer_cast_spec(readers.load_table(spark, self.data, t), t)
            for t in TABLES
        }
        if self.listener is None:
            self.listener = probes.BatchListener()
            spark.streams.addListener(self.listener)

    def run_pass(self, spark, tr):
        self.pass_no += 1
        lat, failed = self._history(spark, tr)
        failed += self._cdc_apply(spark, tr, lat)
        failed += self._curate(spark, tr, lat)
        if tr.enabled:
            self.traced_passes += 1
        return lat, failed

    def _history(self, spark, tr) -> tuple[list[float], int]:
        runid = self.pass_no
        started: dict[str, probes.StealClock] = {}
        took: dict[str, float] = {}
        scan_s: dict[str, float] = {}
        traced = tr.enabled
        orig_overwrite = sinks.overwrite_load
        orig_transform = pipeline.transform_table

        def source(spark_, name):
            started[name] = probes.StealClock()
            df = readers.load_table(spark_, self.data, name)
            if traced:
                t0 = time.perf_counter()
                tr.boundary("readers.scan", df)
                scan_s[name] = time.perf_counter() - t0
            return df

        def transform(df, spec, *a, **kw):
            out = orig_transform(df, spec, *a, **kw)
            if traced:
                t0 = time.perf_counter()
                tr.boundary("transforms.project", out)
                self.layer["transforms.s"] += time.perf_counter() - t0 - scan_s.get(spec.name, 0.0)
            return out

        def overwrite(df, path):
            t0 = time.perf_counter()
            with tr.span("sinks.overwrite"):
                n = orig_overwrite(df, path)
            took[os.path.basename(path)] = started[os.path.basename(path)].adjusted()
            if traced:
                self.layer["sinks.overwrite_s"] += time.perf_counter() - t0
                t0 = time.perf_counter()
                with tr.span("sinks.reconcile", extra=True):
                    sinks.read_back(spark, path).count()
                self.layer["sinks.reconcile_s"] += time.perf_counter() - t0
                b, f = probes.dir_bytes_files(path)
                self.layer["sinks.bytes_written"] += b
                self.layer["sinks.files_written"] += f
            return n

        with probes.patch(orig_overwrite, overwrite), probes.patch(orig_transform, transform):
            with tr.span("pipeline.run"):
                results = pipeline.run(spark, self.specs, source, self.target, runid=runid)
        lat = list(took.values())
        failed = sum(r.status != "loaded" for r in results)
        run_ts = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
        for t in self.APPENDED:
            clock = probes.StealClock()
            try:
                df = pipeline.transform_table(
                    readers.load_table(spark, self.slices, t), self.specs[t], run_ts, runid
                )
                with tr.span("sinks.append"):
                    sinks.append_load(df, os.path.join(self.target, t))
                lat.append(clock.adjusted())
            except Exception as exc:
                _log(self.name, t, exc)
                failed += 1
        if traced:
            self.layer["pipeline.tables_failed"] += sum(r.status == "failed" for r in results)
            self.layer["pipeline.table_s"] += sum(took.values()) / max(1, len(took))
            self.layer["readers.scan_s"] += sum(scan_s.values())
            self.layer["readers.input_bytes"] += self.input_bytes
            self.layer["sinks.bytes_per_input_byte"] += (
                sum(probes.dir_bytes_files(os.path.join(self.target, t))[0] for t in TABLES)
                / self.input_bytes
            )
        return lat, failed

    def _cdc_apply(self, spark, tr, lat: list[float]) -> int:
        """Stream the events slice through ``run_foreach_batch_merge``;
        its scratch (splits, checkpoint, target) lives in a per-pass
        directory, and the previous pass's is removed."""
        shutil.rmtree(os.path.join(self.work, f"cdc{self.pass_no - 1}"), ignore_errors=True)
        prev = tempfile.tempdir
        cdc_dir = tempfile.tempdir = os.path.join(self.work, f"cdc{self.pass_no}")
        os.makedirs(cdc_dir)
        self.listener.take()
        orig_merge = sinks.merge_load

        def merge(df, path, *a, **kw):
            if not tr.enabled:
                return orig_merge(df, path, *a, **kw)
            # the arriving batches are equal time-ordered splits
            splits = glob.glob(os.path.join(cdc_dir, "fbmerge_*", "src", "batch_*.parquet"))
            in_bytes = sum(map(os.path.getsize, splits)) / max(1, len(splits))
            t0 = time.perf_counter()
            with tr.span("sinks.merge"):
                n = orig_merge(df, path, *a, **kw)
            self.layer["sinks.merge_s"] += time.perf_counter() - t0
            self.layer["sinks.merge_rewritten"] += probes.dir_bytes_files(path)[0]
            self.layer["sinks.merge_in_bytes"] += in_bytes
            return n

        failed = 0
        clock = probes.StealClock()
        try:
            with probes.patch(orig_merge, merge), tr.span("streaming.run"):
                events_stream.run_foreach_batch_merge(spark, self.slices, n_splits=self.SPLITS)
        except Exception as exc:
            _log(self.name, "cdc", exc)
            failed = 1
        finally:
            tempfile.tempdir = prev
        kept = 1.0 - clock.stop()[1]
        self.listener.wait_for(self.SPLITS)
        batches = self.listener.take()
        if len(batches) != self.SPLITS:
            failed += 1
        lat.extend(kept * t / 1e3 for t, _ in batches)
        if tr.enabled:
            self.layer["streaming.batches"] += len(batches)
            self.layer["streaming.add_batch_s"] += sum(b for _, b in batches) / 1e3
            self.layer["streaming.overhead_s"] += sum(t - b for t, b in batches) / 1e3
        return failed

    def _curate(self, spark, tr, lat: list[float]) -> int:
        """The curation tail, in a fresh per-pass artifact root."""
        prev = tempfile.tempdir
        root = tempfile.tempdir = os.path.join(self.work, f"curate{self.pass_no}")
        os.makedirs(root)
        failed = 0
        try:
            clock = probes.StealClock()
            s = self._curate_stage(spark, tr)
            lat.append(clock.adjusted())
            clock = probes.StealClock()
            self._curate_near(spark, tr, s)
            lat.append(clock.adjusted())
        except Exception as exc:
            _log(self.name, "curate", exc)
            failed = 1
        finally:
            tempfile.tempdir = prev
            shutil.rmtree(root, ignore_errors=True)
        return failed

    def _curate_stage(self, spark, tr):
        """Text filter and exact dedup; the survivors are staged."""
        docs = readers.load_table(spark, self.corpus, "documents")
        scored = text.predict_lang_staged(
            docs.withColumn("_quality", F.round(text.quality_score("text"), 4)), out_col="_lang"
        )
        tr.boundary("text.score", scored.select("doc_id", "_quality", "_lang"))
        kept = scored.filter(
            (F.col("_quality") >= QUALITY_MIN) & F.col("_lang").isin(*KEEP_LANGS)
        ).drop("_quality", "_lang")
        keep = dedup.dedup_exact_survivors(kept, "text", "doc_id").select(
            F.col("keep_id").alias("doc_id")
        )
        with tr.span("sinks.overwrite"):
            sinks.overwrite_load(
                kept.join(keep, "doc_id", "left_semi"),
                os.path.join(self.stage, "documents.parquet"),
            )
        return readers.load_table(spark, self.stage, "documents")

    def _curate_near(self, spark, tr, s) -> None:
        """Near-duplicate removal and decontamination of the staged
        survivors; what is left is written out."""
        sigs = dedup.minhash_signatures(s)
        tr.boundary("dedup.shingle", sigs)
        cands = dedup.lsh_candidate_pairs(sigs)
        if tr.enabled:
            with tr.span("dedup.lsh", extra=True):
                n_cand = cands.count()
            self.layer["dedup.candidate_pairs"] += n_cand
        near = dedup.exact_jaccard(cands, sigs).filter(F.col("jaccard") >= NEAR_THRESHOLD)
        if tr.enabled:
            with tr.span("dedup.rescore", extra=True):
                n_near = near.count()
            self.layer["dedup.pair_yield"] += n_near / max(1, n_cand)
        with tr.span("dedup.cc"):
            comps = dedup.connected_components(near.select("a", "b"))
        dropped = comps.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
        with tr.span("dedup.decontam"):
            # builds the benchmark bitmap eagerly
            flagged = dedup.decontaminate_bloom(
                s,
                benchmark_max_id=Q.DECON_BENCH_MAX_ID,
                shingle_n=Q.DECON_SHINGLE_N,
                num_bits=Q.BLOOM_BITS,
                num_hashes=Q.BLOOM_K,
            ).filter(F.col("n_flagged_ngrams") >= FLAG_MIN_NGRAMS).select("doc_id")
        tr.boundary("dedup.decontam", flagged)
        final = (
            s.filter(F.col("doc_id") >= Q.DECON_BENCH_MAX_ID)
            .join(dropped, "doc_id", "left_anti")
            .join(flagged, "doc_id", "left_anti")
        )
        with tr.span("sinks.overwrite"):
            sinks.overwrite_load(final, self.curated)

    def check(self, spark):
        con = duckdb.connect()
        bad = self._check_tables(con) + self._check_cdc(con) + self._check_curation(con)
        con.close()
        return len(TABLES) + 3, bad

    def _check_tables(self, con) -> list[str]:
        """Row counts reconcile per table, and an order-insensitive hash
        of every target row (audit timestamp excluded) equals the same
        hash over DuckDB's recomputation of the transform from the
        source: source columns, the md5 row hash, updatedby, runid."""
        bad = []
        runid = self.pass_no
        for t in TABLES:
            src = [os.path.join(self.data, f"{t}.parquet")]
            if t in self.APPENDED:
                src.append(os.path.join(self.slices, f"{t}.parquet"))
            src_sql = " UNION ALL ".join(f"SELECT * FROM read_parquet('{p}')" for p in src)
            desc = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src[0]}')").fetchall()
            cols = [d[0] for d in desc]
            types = {d[0]: d[1] for d in desc}

            def val(c):
                return f"epoch_us({c})" if types[c].startswith("TIMESTAMP") else c

            hashed = ", ".join(val(c) for c in cols)
            if t == "embeddings":
                # float->string renderings differ between engines: the
                # row hash is checked for shape only on this table
                exp_hash = "32"
                got_hash = "length(row_hash_code)"
            else:
                parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '')" for c in cols)
                exp_hash = f"md5('(' || concat_ws(',', {parts}) || ')')"
                got_hash = "row_hash_code"
            exp = con.execute(
                f"SELECT count(*), sum(CAST(hash({hashed}, {exp_hash}, 'redshiftadmin', {runid}) AS HUGEINT)) FROM ({src_sql})"
            ).fetchone()
            got = con.execute(
                f"SELECT count(*), sum(CAST(hash({hashed}, {got_hash}, updatedby, runid) AS HUGEINT)) "
                f"FROM read_parquet('{os.path.join(self.target, t)}/*.parquet')"
            ).fetchone()
            if exp != got:
                bad.append(f"{t}: target (rows, hash) {got} != expected {exp}")
        return bad

    def _check_cdc(self, con) -> list[str]:
        """The CDC target equals the registry's one-shot upsert oracle
        over the slice."""
        targets = glob.glob(os.path.join(self.work, f"cdc{self.pass_no}", "fbmerge_*", "target"))
        if len(targets) != 1:
            return [f"cdc: expected one merge target, found {targets}"]
        _duck_views(con, self.slices, ["events"])
        cols = "user_id, event_type, event_id, epoch_us(ts) AS ts, props"
        exp = sorted(con.execute(f"SELECT {cols} FROM ({Q.UPSERT_ORACLE})").fetchall())
        got = sorted(con.execute(f"SELECT {cols} FROM read_parquet('{targets[0]}/*.parquet')").fetchall())
        if exp != got:
            return [f"cdc: merge target differs from the upsert oracle ({len(got)} vs {len(exp)} rows)"]
        return []

    def _check_curation(self, con) -> list[str]:
        """Stage by stage against DuckDB: the staged survivors equal the
        registry's ``dedup_exact_documents`` oracle over the docs its
        quality/language oracles keep; the written survivors equal the
        staged ones minus the non-minimal members of the connected
        components of the ``dedup_minhash_lsh`` oracle pairs, minus the
        docs the ``decontaminate_bloom`` oracle flags, minus the
        benchmark slice.  Also scores dedup against the injected
        ground truth (per-layer ``dedup.dup_recall``/``dup_precision``)."""
        bad = []
        corpus = f"read_parquet('{self.corpus}/documents.parquet')"
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {corpus}")
        passed = _text_survivors(con)
        ids = ",".join(str(i) for i in sorted(passed)) or "-1"
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {corpus} WHERE doc_id IN ({ids})")
        exp_stage = {r[0] for r in con.execute(
            f"SELECT keep_id FROM ({Q.ORACLES['dedup_exact_documents']})"
        ).fetchall()}
        stage_glob = _parquet_glob(os.path.join(self.stage, "documents.parquet"))
        got_stage = {r[0] for r in con.execute(f"SELECT doc_id FROM read_parquet('{stage_glob}')").fetchall()}
        if got_stage != exp_stage:
            bad.append(f"stage survivors: {len(got_stage ^ exp_stage)} ids differ from oracle")
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{stage_glob}')")
        pairs = con.execute(f"SELECT a, b FROM ({Q.ORACLES['dedup_minhash_lsh']})").fetchall()
        dropped = {d for d, c in _components(pairs).items() if d != c}
        flagged = {d for d, n in con.execute(Q.ORACLES["decontaminate_bloom"]).fetchall() if n >= FLAG_MIN_NGRAMS}
        exp_final = {d for d in got_stage if d >= Q.DECON_BENCH_MAX_ID} - dropped - flagged
        out_glob = _parquet_glob(self.curated)
        got_final = {r[0] for r in con.execute(f"SELECT doc_id FROM read_parquet('{out_glob}')").fetchall()}
        if got_final != exp_final:
            bad.append(f"curated survivors: {len(got_final ^ exp_final)} ids differ from oracle")
        same_text = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_glob}') o JOIN {corpus} c USING (doc_id) WHERE o.text = c.text"
        ).fetchone()[0]
        if same_text != len(got_final):
            bad.append("curated survivors: text differs from the corpus")
        # injected duplicates that passed the text stage, and what dedup removed
        dups = {int(k) for k in self.truth["dup_of"]} & passed
        removed = (passed - got_stage) | dropped
        hit = len(removed & dups)
        self.quality = {
            "dedup.dup_recall": hit / max(1, len(dups)),
            "dedup.dup_precision": hit / max(1, len(removed)),
        }
        return bad


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

QUERY_FAMILIES = {
    "tpch": [
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "q9_product_profit", "q18_large_volume_orders", "q21_sole_returning_supplier",
    ],
    "events": [
        "agg_events_hourly_window", "value_percentiles_per_event_type",
        "hll_distinct_users", "sessionize_events",
        "asof_last_view_before_purchase", "range_join_clicks_near_errors",
    ],
    "retrieval": [
        "ann_ivf_topk", "topk_similarity_bruteforce", "bm25_topk_docs",
        "knn_classify_majority", "hybrid_retrieval_rrf",
    ],
}
FAMILY_OF = {q: f for f, qs in QUERY_FAMILIES.items() for q in qs}


class QueryMix(Workload):
    """A fixed list of read-only registry queries, in a fixed order, as
    an interactive session runs them after it has started: each planned
    and its result fetched to the driver as Arrow (the result is checked
    afterwards, so nothing runs twice); the shared artifacts they read
    are built in set-up.  One operation is one query.

    The order is not seeded: in a cold pass the first queries pay the
    session's class loading and code generation, so a shuffled order
    moved those costs between queries from run to run."""

    name = "query_mix"

    def generate(self) -> None:
        self.queries = [q for qs in QUERY_FAMILIES.values() for q in qs]
        self.results = {}

    def setup(self, spark) -> None:
        """Build the shared artifacts the mix reads in the session's
        artifact root, by planning the two queries that read them
        (``ann_ivf_topk``: k-means centroids; ``hybrid_retrieval_rrf``:
        the word-3-gram table).  ``prebuild_shared_artifacts`` would
        build all fourteen of the registry's artifacts, most of which no
        query of the mix reads."""
        t0 = time.perf_counter()
        for q in ("ann_ivf_topk", "hybrid_retrieval_rrf"):
            Q.QUERIES[q](spark, self.data)
        self.setup_layer = {
            "artifacts.prebuild_s": time.perf_counter() - t0,
            "artifacts.bytes": probes.dir_bytes_files(artifact_root())[0],
        }

    def run_pass(self, spark, tr):
        lat, failed = [], 0
        for q in self.queries:
            fam = FAMILY_OF[q]
            clock = probes.StealClock()
            t0 = clock.t0
            try:
                with tr.span("queries.plan"):
                    df = Q.QUERIES[q](spark, self.data)
                t1 = time.perf_counter()
                with tr.span("queries.exec"):
                    result = df.toArrow()
                t2 = time.perf_counter()
            except Exception as exc:
                _log(self.name, q, exc)
                failed += 1
                continue
            lat.append(clock.adjusted())
            self.results[q] = result
            if tr.enabled:
                self.layer[f"queries.plan_s.{fam}"] += t1 - t0
                self.layer[f"queries.exec_s.{fam}"] += t2 - t1
        if tr.enabled:
            self.traced_passes += 1
        return lat, failed

    def check(self, spark):
        """Each query's last result equals its DuckDB ``oracle_sql()``
        twin: same column names, row count and (order-insensitive)
        values."""
        con = duckdb.connect()
        _duck_views(con, self.data)
        bad = []
        for q in self.queries:
            if q not in self.results:
                bad.append(f"{q}: no result")
                continue
            tab = self.results[q]
            s_cols = tab.column_names
            s_rows = list(zip(*(c.to_pylist() for c in tab.columns)))
            res = con.execute(Q.ORACLES[q])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            if sorted(s_cols) != sorted(d_cols):
                bad.append(f"{q}: columns {sorted(s_cols)} != {sorted(d_cols)}")
            elif len(s_rows) != len(d_rows):
                bad.append(f"{q}: {len(s_rows)} rows != oracle {len(d_rows)}")
            elif _canon(s_rows, s_cols) != _canon(d_rows, d_cols):
                bad.append(f"{q}: values differ from oracle")
        con.close()
        return len(self.queries), bad


WORKLOADS = {w.name: w for w in (HistoryLoad, QueryMix)}
