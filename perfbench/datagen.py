"""Seeded inputs of the benchmark, derived from the harness tables.

``data/sf0.01`` and ``data/sf0.001`` are byte-for-byte copies of the
harness's deterministic synthetic tables (the ten tables the registry
queries and their DuckDB oracles are written against), kept beside the
benchmark so that it reads nothing outside its checkout.  From them and
``--seed`` this module makes the only inputs that vary per run:

* the append slices: a seeded contiguous 10 % of ``events`` and
  ``lineitem``, appended by ``sinks.append_load`` and streamed as the
  CDC micro-batches;
* the curation corpus: the ``documents`` table plus edited copies of a
  seeded sample of its documents and a few injected documents, with the
  ground-truth duplicate/junk/foreign/contamination sets beside it.

The same seed always gives byte-identical files: one ``numpy`` PCG64
stream per output, no wall-clock input, pyarrow's deterministic writer.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from aws_pandas_etl_spark.operators.text import LANG_STOPWORDS

HERE = os.path.dirname(os.path.abspath(__file__))


def harness_dir(smoke: bool) -> str:
    return os.path.join(HERE, "data", "sf0.001" if smoke else "sf0.01")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, output)."""
    key = sum((i + 1) * ord(ch) for i, ch in enumerate(stream))
    return np.random.Generator(np.random.PCG64([seed, key]))


def write_append_slices(data_dir: str, out_dir: str, seed: int, tables) -> None:
    """``out_dir/<t>.parquet``: a seeded contiguous tenth of each table."""
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        tab = pq.read_table(os.path.join(data_dir, f"{t}.parquet"))
        n = max(1, tab.num_rows // 10)
        off = int(_rng(seed, f"slice-{t}").integers(0, tab.num_rows - n + 1))
        pq.write_table(tab.slice(off, n), os.path.join(out_dir, f"{t}.parquet"))


def _edit(rng, toks: list[str], vocab: list[str], n_edits: int) -> list[str]:
    toks = list(toks)
    for _ in range(n_edits):
        op = rng.integers(0, 3)
        i = int(rng.integers(0, len(toks)))
        w = vocab[int(rng.integers(0, len(vocab)))]
        if op == 0:
            toks[i] = w
        elif op == 1:
            toks.insert(i, w)
        elif len(toks) > 20:
            del toks[i]
    return toks


def write_curation_corpus(
    data_dir: str,
    out_dir: str,
    seed: int,
    bench_max_id: int,
    eligible: list[int],
    n_base: int,
    clones: int = 3,
) -> dict:
    """Near-duplicate curation corpus as ``out_dir/documents.parquet``
    plus ``out_dir/truth.json``.

    Every document of ``data_dir/documents.parquet`` is kept as is; ids
    below ``bench_max_id`` are the benchmark (eval) slice.  ``n_base``
    documents drawn from ``eligible`` (non-benchmark documents that pass
    the text filter) each get ``clones`` edited copies (1-3 token
    substitutions/insertions/deletions, one in twenty verbatim) with
    larger ids, so a keep-min-id dedup keeps the original.  Then come
    injected low-quality docs, foreign-language docs, and docs with a
    16-token span of a benchmark document spliced in.  Edits and
    injected text use the corpus's own vocabulary."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "curation")
    src = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pylist()
    src.sort(key=lambda d: d["doc_id"])
    toks = {d["doc_id"]: d["text"].split() for d in src}
    vocab = sorted({w for ts in toks.values() for w in ts})
    content = [w for w in vocab if w not in LANG_STOPWORDS["en"]]
    rows = list(src)
    next_id = max(toks) + 1

    def add(text: list[str], like: dict | None = None) -> int:
        nonlocal next_id
        s = " ".join(text)
        rows.append({
            "doc_id": next_id,
            "text": s,
            "lang": like["lang"] if like else "en",
            "source": like["source"] if like else "injected",
            "n_chars": len(s),
        })
        next_id += 1
        return next_id - 1

    by_id = {d["doc_id"]: d for d in src}
    bases = sorted(int(b) for b in r.choice(sorted(eligible), min(n_base, len(eligible)), replace=False))
    dup_of: dict[int, int] = {}
    for b in bases:
        for _ in range(clones):
            t = toks[b] if r.random() < 0.05 else _edit(r, toks[b], vocab, int(r.integers(1, 4)))
            dup_of[add(t, by_id[b])] = b
    n_extra = max(4, len(bases) // 50)
    junk = [
        add([str(x) for x in r.integers(0, 10, int(r.integers(3, 12)))] + ["x"] * int(r.integers(0, 4)))
        for _ in range(n_extra)
    ]
    foreign = []
    for _ in range(n_extra):
        sw = LANG_STOPWORDS[("es", "fr", "de")[int(r.integers(0, 3))]]
        t = [content[j] for j in r.integers(0, len(content), int(r.integers(30, 80)))]
        for _ in range(int(r.integers(6, 12))):
            t.insert(int(r.integers(0, len(t))), sw[int(r.integers(0, len(sw)))])
        foreign.append(add(t))
    bench = [i for i in toks if i < bench_max_id and len(toks[i]) >= 24]
    contaminated = []
    for _ in range(n_extra):
        span = toks[bench[int(r.integers(0, len(bench)))]]
        at = int(r.integers(0, len(span) - 16 + 1))
        host = [content[j] for j in r.integers(0, len(content), int(r.integers(30, 80)))]
        cut = int(r.integers(0, len(host)))
        contaminated.append(add(host[:cut] + span[at : at + 16] + host[cut:]))
    schema = pq.read_schema(os.path.join(data_dir, "documents.parquet"))
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(out_dir, "documents.parquet"),
        compression="snappy",
    )
    truth = {
        "n_docs": len(rows),
        "dup_of": {str(k): v for k, v in dup_of.items()},
        "junk": junk,
        "foreign": foreign,
        "contaminated": contaminated,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth
