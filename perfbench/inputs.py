"""Seeded benchmark inputs, cached by (seed, size) under ``perfbench/.cache``.

Everything a run needs that is not the engine's own work is made here, before
Spark starts, so none of it counts toward ``setup_s``:

- the transcripts corpus, through ``generator.generate_transcripts(..., seed=)``
  in chunks of one scale factor's conversations (2,000 at sf0.01), one
  process per chunk;
- the query mix: the 50 reference queries plus a seeded twin of each, its
  vocabulary terms redrawn by Zipf near their own rank;
- the CDC batch sequence for ``cdc_stream``;
- golden top-k lists from ``sync2any_spark.oracle.BM25Oracle``.

The same seed always gives the same files. Generation and goldens take
seconds to tens of seconds; a cache entry is reused by every later run with
that seed and size, and the ``KEEP_ENTRIES`` most recent entries are kept.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sync2any_spark.generator import (
    N_CONVS,
    ROW_GROUP_ROWS,
    VOCAB_SIZE,
    generate_queries,
    generate_transcripts,
)
from sync2any_spark.oracle import BM25Oracle
from sync2any_spark.tokenize import tokenize

VERSION = 2  # bump when what an entry holds changes
KEEP_ENTRIES = 24  # ~15 MB each: enough for a series of runs over a dozen seeds
CDC_QUERIES = 40
VOCAB_TERM = re.compile(r"w\d{4}")  # generator._vocab()
# CDC batch shape: one op per key, half U, a quarter D, a quarter I
CDC_OPS = (("U", 2), ("D", 1), ("I", 1))
INCREMENT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "op"]


def _sub_seed(seed: int, *path: int) -> int:
    return int(np.random.SeedSequence([seed, *path]).generate_state(1)[0])


def _gen_chunk(args: "tuple[str, int, int, str]") -> None:
    sf, conv_start, seed, out = args
    tbl = generate_transcripts(sf, 1, conv_start=conv_start, seed=seed)
    pq.write_table(tbl, out, compression="zstd", row_group_size=ROW_GROUP_ROWS)


def _pool(n: int):
    return mp.get_context("spawn").Pool(n)


class Cache:
    """One cache directory per (kind, seed, size); entries are built into a
    temp dir and renamed into place, so a crashed run leaves no half entry."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def entry(self, name: str, build) -> str:
        path = os.path.join(self.root, name)
        if os.path.exists(os.path.join(path, "DONE")):
            os.utime(path)
            return path
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        self._evict()
        return path

    def _evict(self) -> None:
        entries = sorted(
            (os.path.getmtime(os.path.join(self.root, n)), n)
            for n in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, n, "DONE"))
        )
        for _, n in entries[:-KEEP_ENTRIES]:
            shutil.rmtree(os.path.join(self.root, n), ignore_errors=True)


def write_corpus(out: str, sf: str, seed: int, n_chunks: int, workers: int) -> None:
    """Chunk i is ``generate_transcripts(sf)``'s conversation count starting
    at i times that count, with its own rng stream; chunks concatenate in
    conv_id order into one row-grouped file."""
    os.makedirs(out + ".parts", exist_ok=True)
    per = N_CONVS[sf]
    jobs = [
        (sf, i * per, _sub_seed(seed, 0, i), os.path.join(out + ".parts", f"{i:04d}.parquet"))
        for i in range(n_chunks)
    ]
    if n_chunks == 1:
        _gen_chunk(jobs[0])
    else:
        with _pool(min(workers, n_chunks)) as pool:
            pool.map(_gen_chunk, jobs)
    with pq.ParquetWriter(out, pq.read_schema(jobs[0][3]), compression="zstd") as w:
        for *_, part in jobs:
            w.write_table(pq.read_table(part), row_group_size=ROW_GROUP_ROWS)
    shutil.rmtree(out + ".parts")


def read_corpus(path: str) -> pd.DataFrame:
    """Corpus rows in doc-id order: a fresh build assigns doc ids as the dense
    rank of (conv_id, turn_idx)."""
    df = pq.read_table(path).to_pandas()
    return df.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)


def make_queries(seed: int) -> "list[dict]":
    """The 50 reference queries, then a seeded twin of each: the same k and
    the same skew, hot, missing and CJK terms, with each vocabulary term of
    Zipf rank r redrawn by Zipf(1.1) from the ranks r/2 to 2r+1. A twin so
    keeps its reference query's kind, k and order of cost (a common term
    stays common, a rare one rare); only the terms vary with the seed."""
    ref = generate_queries().to_pandas()
    out = [{"q": str(r.query_text), "k": int(r.k)} for r in ref.itertuples(index=False)]
    rng = np.random.default_rng(_sub_seed(seed, 1))
    zipf = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -1.1

    def redraw(term: str) -> str:
        if not VOCAB_TERM.fullmatch(term):
            return term
        r = int(term[1:])
        lo, hi = r // 2, min(2 * r + 2, VOCAB_SIZE)
        p = zipf[lo:hi] / zipf[lo:hi].sum()
        return f"w{lo + int(rng.choice(hi - lo, p=p)):04d}"

    for shape in list(out):
        out.append({"q": " ".join(redraw(t) for t in shape["q"].split()), "k": shape["k"]})
    return out


def goldens(docs: pd.DataFrame, queries: "list[dict]") -> "list[dict]":
    """Oracle top-k and Σdf price of every query over ``docs`` (columns
    doc_id, text and optionally alt_id: a second id assignment whose top-k
    is returned as ``hits_alt``)."""
    ids = docs["doc_id"].tolist()
    alt = dict(zip(ids, docs["alt_id"].tolist())) if "alt_id" in docs.columns else None
    oracle = BM25Oracle(list(zip(ids, docs["text"].tolist())))
    res = []
    for q in queries:
        terms = [t for t in dict.fromkeys(tokenize(q["q"])) if t in oracle.postings]
        r = {"price": sum(len(oracle.postings[t]) for t in terms)}
        ranked = oracle.topk(q["q"], len(ids) if alt else q["k"])
        r["hits"] = [[int(d), float(s)] for d, s in ranked[: q["k"]]]
        if alt:
            # the same scores, ties broken by the other id assignment
            rerank = sorted(((alt[d], s) for d, s in ranked), key=lambda x: (-x[1], x[0]))
            r["hits_alt"] = [[int(d), float(s)] for d, s in rerank[: q["k"]]]
        res.append(r)
    return res


def corpus_entry(cache: Cache, sf: str, seed: int, n_chunks: int, workers: int) -> str:
    """corpus.parquet + queries.json (query, k, golden hits, price)."""

    def build(d: str) -> None:
        src = os.path.join(d, "corpus.parquet")
        write_corpus(src, sf, seed, n_chunks, workers)
        docs = read_corpus(src)
        docs["doc_id"] = np.arange(len(docs), dtype=np.int64)
        queries = make_queries(seed)
        for q, g in zip(queries, goldens(docs, queries)):
            q.update(g)
        with open(os.path.join(d, "queries.json"), "w") as f:
            json.dump(queries, f)

    return cache.entry(f"corpus-v{VERSION}-{sf}x{n_chunks}-s{seed}", build)


def _batch(corpus: pd.DataFrame, rows: np.ndarray, ops: np.ndarray, b: int, seed: int) -> pd.DataFrame:
    df = corpus.iloc[rows][["conv_id", "turn_idx", "role", "text", "tool", "ts"]].copy()
    df["op"] = ops
    ins = df["op"] == "I"
    # inserts: new turns on existing conversations, unique per batch
    df.loc[ins, "turn_idx"] = df.loc[ins, "turn_idx"] + 100_000 * (b + 1)
    # nonce: every U/I row carries new text, so no op is a no-op
    live = df["op"] != "D"
    df.loc[live, "text"] = df.loc[live, "text"] + f" nonce{seed}x{b}"
    return df.reset_index(drop=True)


def apply_expected(live: pd.DataFrame, batch: pd.DataFrame, next_id: int) -> "tuple[pd.DataFrame, int]":
    """The engine's documented upsert semantics, in pandas: U/I replace or add
    a row under a fresh doc id (fresh ids are ranked by key above the
    high-water mark), D drops the row."""
    key = ["conv_id", "turn_idx"]
    b = batch.sort_values(key, kind="stable")
    keys = pd.MultiIndex.from_frame(b[key])
    live_idx = pd.MultiIndex.from_frame(live[key])
    keep = ~live_idx.isin(keys)
    ups = b[b["op"] != "D"].drop(columns="op").copy()
    ups["doc_id"] = np.arange(next_id, next_id + len(ups), dtype=np.int64)
    out = pd.concat([live[keep], ups], ignore_index=True)
    return out, next_id + len(ups)


def cdc_entry(cache: Cache, sf: str, seed: int, n_chunks: int, n_batches: int,
              batch_rows: int, workers: int) -> str:
    """base.parquet, batches/b000..., and cdc.json: per batch its shape and
    row count, plus the query list with goldens over the expected live corpus
    after the drain (segment doc ids) and after compaction (dense ids)."""

    def build(d: str) -> None:
        src = os.path.join(d, "base.parquet")
        write_corpus(src, sf, seed, n_chunks, workers)
        corpus = read_corpus(src)
        n = len(corpus)
        rng = np.random.default_rng(_sub_seed(seed, 2))
        bdir = os.path.join(d, "batches")
        os.makedirs(bdir)
        live = corpus.assign(doc_id=np.arange(n, dtype=np.int64))
        next_id = n
        shapes = []
        for b in range(n_batches):
            # alternate the binlog shape (one clustered conv_id range, where
            # zone-map pruning engages) with uniform keys (prunes nothing)
            shape = "clustered" if b % 2 == 0 else "uniform"
            if shape == "clustered":
                lo = int(rng.integers(0, n - batch_rows))
                rows = np.arange(lo, lo + batch_rows)
            else:
                rows = np.sort(rng.choice(n, batch_rows, replace=False))
            ops = np.concatenate([np.full(batch_rows * w // 4, op) for op, w in CDC_OPS])
            ops = np.concatenate([ops, np.full(batch_rows - len(ops), "U")])
            rng.shuffle(ops)
            batch = _batch(corpus, rows, ops, b, seed)
            path = os.path.join(bdir, f"b{b:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(batch[INCREMENT_COLS], preserve_index=False), path)
            # the file source orders new files by modification time
            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
            live, next_id = apply_expected(live, batch, next_id)
            shapes.append({"shape": shape, "rows": int(len(batch))})
        live = live.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
        # compaction re-densifies doc ids in key order
        live["alt_id"] = np.arange(len(live), dtype=np.int64)
        qs = make_queries(seed)[:CDC_QUERIES]
        for q, g in zip(qs, goldens(live, qs)):
            q.update(hits=g["hits"], price=g["price"], hits_compacted=g["hits_alt"])
        pq.write_table(
            pa.Table.from_pandas(live[["doc_id", "conv_id", "turn_idx", "text"]], preserve_index=False),
            os.path.join(d, "live.parquet"),
        )
        with open(os.path.join(d, "cdc.json"), "w") as f:
            json.dump({"batches": shapes, "queries": qs, "live_docs": int(len(live))}, f)

    return cache.entry(f"cdc-v{VERSION}-{sf}x{n_chunks}-s{seed}-b{n_batches}x{batch_rows}", build)


def warm_entry(cache: Cache) -> str:
    """A tiny fixed corpus (200 conversations) and a 200-row U batch, used to
    warm the JVM and the Python workers before anything is timed."""

    def build(d: str) -> None:
        tbl = generate_transcripts("sf0.001", 1, seed=_sub_seed(0, 3))
        pq.write_table(tbl, os.path.join(d, "corpus.parquet"), compression="zstd",
                       row_group_size=256)
        df = tbl.slice(0, 200).to_pandas()
        df["op"] = "U"
        df["text"] = df["text"] + " warm"
        os.makedirs(os.path.join(d, "batches"))
        pq.write_table(pa.Table.from_pandas(df[INCREMENT_COLS], preserve_index=False),
                       os.path.join(d, "batches", "b000.parquet"))

    return cache.entry("warm", build)
